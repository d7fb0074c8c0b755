"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

Query inventory maps SURVEY.md §2 operators onto the driver's testdata
tables. The zonal-statistics vocabulary (§2.4) runs over a synthetic
cell table derived deterministically from ``lineitem`` — the derivation
uses integer-valued measures and power-of-two coverage fractions so
float aggregation is order-independent and hash-stable across engines.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from det_module_spark.operators.asof import asof_join
from det_module_spark.operators.dedup import (
    MINHASH_A,
    MINHASH_B,
    MINHASH_P,
    embedding_near_dup_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
)
from det_module_spark.operators.extract_types import zonal_aggregate, zonal_extract
from det_module_spark.operators.merge import MergeItem, merge_extracts
from det_module_spark.operators.msr import even_split_allocation, msr_surface
from det_module_spark.operators.multimodal import (
    decode_features,
    frame_sample_plan,
    media_from_documents,
)
from det_module_spark.operators.queue import get_requests, two_phase_poll
from det_module_spark.operators.similarity import (
    cosine_topk,
    ivf_topk,
    lsh_topk,
    semantic_dedup,
)
from det_module_spark.operators.text import (
    LANG_PROFILES,
    doc_fingerprint,
    lang_id,
    quality_features,
    tfidf_top_terms,
)
from det_module_spark.operators.spatial import spatial_join_rect
from det_module_spark.sources.tables import load_table
from det_module_spark.sources.vector import rect_boundaries
from det_module_spark.streaming.windows import (
    flatten_window,
    session_agg,
    sliding_agg,
    tumbling_agg,
)

# Install the protobuf fallback (vendor/protofallback) at import time:
# when a harness imports this module BEFORE creating its SparkSession,
# the PYTHONPATH export reaches the JVM environment and every TWS
# helper process resolves google.protobuf; sessions created earlier
# are covered by the sc.environment injection in _ship_fallback.
from det_module_spark.streaming.state import ensure_protobuf as _ensure_pb

_ensure_pb()

# ---------------------------------------------------------------------------
# The synthetic zonal cell table (stands in for raster-cells-joined-to-
# boundary-features, SURVEY.md J2/§2.4):
#   asdf_id  — boundary feature id (bounded cardinality, like real zones)
#   value    — cell value, integer-valued double (exact float sums)
#   coverage — pixel coverage fraction in (0,1], eighths (exact sums)
#   potential— 'potential' surface value for the reliability triple
#   category — categorical raster band
# ---------------------------------------------------------------------------

CELLS_SQL = """
WITH cells AS (
  SELECT
    l_orderkey % 200                        AS asdf_id,
    ROUND(l_extendedprice, 0)               AS value,
    CAST(l_linenumber AS DOUBLE) / 8.0      AS coverage,
    ROUND(l_extendedprice * (1 + l_tax), 0) AS potential,
    l_returnflag                            AS category
  FROM lineitem
)
"""

CATEGORIES = ["A", "N", "R"]


def _pround(col, digits: int):
    """Parity-safe rounding: ``floor(x*10^d + 0.5) / 10^d`` — the same
    IEEE op sequence in Spark and DuckDB. (Spark's ``round`` rounds the
    *shortest decimal repr* via BigDecimal; DuckDB rounds the binary
    double — they disagree on values like 34961.215.)"""
    scale = F.lit(float(10**digits))
    return F.floor(col * scale + F.lit(0.5)) / scale


def _pround_sql(expr: str, digits: int) -> str:
    return f"FLOOR(({expr}) * 1e{digits} + 0.5) / 1e{digits}"


def _cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        (F.col("l_orderkey") % 200).alias("asdf_id"),
        F.round(F.col("l_extendedprice"), 0).alias("value"),
        (F.col("l_linenumber").cast("double") / F.lit(8.0)).alias("coverage"),
        F.round(F.col("l_extendedprice") * (1 + F.col("l_tax")), 0).alias(
            "potential"
        ),
        F.col("l_returnflag").alias("category"),
    )


def _zonal(extract_type: str, round_to: int | None = None):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        out = zonal_extract(
            _cells(spark, sf_dir), extract_type, categories=CATEGORIES
        )
        if round_to is not None:
            val_cols = [c for c in out.columns if c != "asdf_id"]
            out = out.select(
                "asdf_id",
                *[_pround(F.col(f"`{c}`"), round_to).alias(c) for c in val_cols],
            )
        return out

    return q


def _zonal_sql(agg_exprs: str) -> str:
    return f"{CELLS_SQL} SELECT asdf_id, {agg_exprs} FROM cells GROUP BY asdf_id"


# ---------------------------------------------------------------------------
# Relational operator inventory (SURVEY.md §2.1-§2.3, §2.5-§2.8) mapped
# onto the TPC-H-ish tables. orders stands in for the request queue.
# ---------------------------------------------------------------------------


def q_queue_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    # S1/O1: status filter -> priority desc, FIFO asc, limit
    # (request_tools.py:110-129) + explicit unique tiebreak
    orders = load_table(spark, sf_dir, "orders")
    out = get_requests(
        orders, "O",
        limit=20,
        status_col="o_orderstatus",
        priority_col="o_orderpriority",
        submit_time_col="o_orderdate",
        tiebreak_col="o_orderkey",
    )
    return out.select(
        "o_orderkey",
        "o_orderpriority",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("submit_date"),
    )


def q_two_phase_poll(spark: SparkSession, sf_dir: str) -> DataFrame:
    # O3: status -1 batch strictly before status 0 batch
    # (processing.py:121-123)
    orders = load_table(spark, sf_dir, "orders")
    return two_phase_poll(
        orders, "F", "O",
        limit=10,
        status_col="o_orderstatus",
        priority_col="o_orderpriority",
        submit_time_col="o_orderdate",
        tiebreak_col="o_orderkey",
    ).select("poll_phase", "o_orderkey", "o_orderpriority")


def q_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # S2/S3: point lookup with projection (request_tools.py:97-147)
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
           FROM orders
           WHERE o_orderkey = (SELECT MIN(o_orderkey) FROM orders)"""
    )


def q_release_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # P3: membership + range predicates, all pushed to the scan
    # (request_tools.py:352-359, doc_test.py:24-47)
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            F.col("l_returnflag").isin("A", "R")
            & (F.col("l_shipdate") >= F.lit("1994-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
            & F.col("l_quantity").between(10, 20)
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            _pround(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
    )


def q_catalog_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # J4: broadcast enrichment join against small catalog dims
    # (documentation_tool.py:344-352)
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            _pround(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
        )
    )


def q_wide_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    # J1 + P6/P7: multi-item merge with all three rename cases
    # (request_tools.py:617-708)
    cells = _cells(spark, sf_dir)
    base = zonal_extract(cells, "mean").withColumn(
        "zone_name", F.concat(F.lit("zone_"), F.col("asdf_id").cast("string"))
    )
    rel = zonal_extract(cells, "reliability")
    cat = zonal_extract(cells, "categorical", categories=CATEGORIES)
    # the three extracts are independent chains of blocking jobs —
    # collect them on driver threads (wall = max instead of sum), then
    # merge on the driver the way the engine merges cached results
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as pool:
        base_t, rel_t, cat_t = pool.map(DataFrame.toArrow, (base, rel, cat))
    return spark.createDataFrame(
        merge_extracts(
            [
                MergeItem(base_t, "udel_precip_v401_sum", "1998", "mean"),
                MergeItem(rel_t, "aiddata_v3", "0123456789abcdef", "reliability"),
                MergeItem(cat_t, "landcover", "2000", "categorical"),
            ]
        )
    )


def q_cache_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # E2: requested − cached as a left-anti join (SURVEY.md §2.7)
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cached = li.filter(
        F.col("l_shipdate") > F.lit("1998-08-01").cast("timestamp")
    ).select(F.col("l_orderkey").alias("o_orderkey"))
    return orders.join(cached, "o_orderkey", "left_anti").select("o_orderkey")


def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = li.filter(F.col("l_quantity") > 49).select(
        F.col("l_orderkey").alias("o_orderkey")
    )
    return orders.join(big, "o_orderkey", "left_semi").select(
        "o_orderkey", "o_totalprice"
    )


def q_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    # §2.7 ordered union-distinct of key domains
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return cust.union(supp).distinct()


def q_except_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    # custkeys that ordered, minus those in overdraft
    ordered = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey")
    )
    overdrawn = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") < 0)
        .select(F.col("c_custkey").alias("custkey"))
    )
    return ordered.distinct().exceptAll(overdrawn).distinct()


def q_intersect_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey")
    )
    ordered = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey")
    )
    return cust.intersect(ordered)


def q_msr_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    # J3 + §2.4 MSR: even-split allocation -> 0.05° grid ->
    # sum/potential/reliability surfaces (request_tools.py:373-380)
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    locs = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        F.col("l_orderkey").alias("project_id"),
        ((F.col("l_partkey") % 720) * F.lit(0.5) - F.lit(180.0)).alias("lon"),
        ((F.col("l_suppkey") % 360) * F.lit(0.5) - F.lit(90.0)).alias("lat"),
        F.col("o_totalprice").alias("total_commitments"),
    )
    # fixed-point money: quantize allocations to integer cents before
    # aggregation. price/n quotients sum with accumulation-order LSB
    # noise (engine-dependent); integer-cent sums are exact in IEEE
    # doubles (< 2^53), so every downstream value is bit-identical
    # regardless of partitioning or engine. This is also the correct
    # at-scale practice for monetary aggregation.
    alloc = even_split_allocation(locs)
    cents = alloc.withColumn(
        "allocated", F.floor(F.col("allocated") * 100 + F.lit(0.5))
    ).withColumn("potential", F.floor(F.col("potential") * 100 + F.lit(0.5)))
    surf = msr_surface(cents)
    return surf.select(
        "cell_x",
        "cell_y",
        (F.col("sum") / 100).alias("sum"),
        (F.col("potential") / 100).alias("potential"),
        _pround(F.col("reliability"), 6).alias("reliability"),
    )


def q_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # F2-F12: hash prefixes, split/substring/concat naming algebra
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.substring(F.md5("p_name"), 1, 7).alias("name_hash7"),
        F.element_at(F.split("p_type", " "), -1).alias("type_last"),
        F.regexp_replace("p_brand", "#", "_").alias("brand_key"),
        F.concat_ws(".", "p_brand", "p_type").alias("dotted"),
        F.col("p_type").startswith("ECONOMY").cast("int").alias("is_economy"),
        F.col("p_type").endswith("STEEL").cast("int").alias("is_steel"),
        F.upper(F.substring("p_name", 1, 5)).alias("name5"),
    )


def q_temporal_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    # O2/F4/F11: temporal labels sorted as ints, descending
    # (documentation_tool.py:317-326)
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_set(F.year("ts")), asc=False),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("years_desc")
    )


def q_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # §2.5: rank-1-per-group pattern (majority/minority machinery)
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_orderpriority", "rn", "o_orderkey", "o_totalprice")
    )


def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 500)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        _pround(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )


# ---------------------------------------------------------------------------
# LLM-data-pipeline extensions (BASELINE.json north star): dedup,
# similarity search, text analysis, multimodal columns.
# ---------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact dedup by content-prefix key (url/doc-head style)
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup(docs, F.md5(F.substring("text", 1, 24)))


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    out = quality_features(docs)
    return out.select(
        "doc_id",
        F.col("q_n_chars").cast("long").alias("q_n_chars"),
        F.col("q_n_tokens").cast("long").alias("q_n_tokens"),
        _pround(F.col("q_mean_token_len"), 6).alias("q_mean_token_len"),
        _pround(F.col("q_stopword_ratio"), 6).alias("q_stopword_ratio"),
        _pround(F.col("q_distinct_ratio"), 6).alias("q_distinct_ratio"),
    )


def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    out = lang_id(docs)
    return out.select(
        "doc_id",
        "lang_pred",
        *[
            F.col(f"score_{lg}").cast("long").alias(f"score_{lg}")
            for lg in sorted(LANG_PROFILES)
        ],
    )


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return doc_fingerprint(docs)


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return minhash_signatures(docs, num_hashes=16)


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs, num_hashes=16)
    return minhash_lsh_pairs(sigs, bands=8, rows=2)


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.12)
    return pairs.select(
        "id_a", "id_b", _pround(F.col("jaccard"), 6).alias("jaccard")
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return simhash(docs, bits=16)


def q_similarity_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    out = cosine_topk(emb.filter(F.col("vec_id") < 10), emb, k=5)
    return out.select(
        "query_id", "rank", "neighbor_id", _pround(F.col("cos"), 6).alias("cos")
    )


def q_similarity_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rows-only driver check: approximate path (bucketed); recall vs the
    # exact path is asserted in tests/test_llm_ops.py
    emb = load_table(spark, sf_dir, "embeddings")
    out = lsh_topk(
        emb.filter(F.col("vec_id") < 10), emb, k=5, n_planes=4, n_tables=8
    )
    return out.select(
        "query_id", "rank", "neighbor_id", _pround(F.col("cos"), 6).alias("cos")
    )


def q_similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rows-only driver check: IVF-partitioned ANN (recall vs exact
    # asserted in tests)
    emb = load_table(spark, sf_dir, "embeddings")
    out = ivf_topk(
        emb.filter(F.col("vec_id") < 10), emb, k=5, n_cells=16, n_probe=4
    )
    return out.select(
        "query_id", "rank", "neighbor_id", _pround(F.col("cos"), 6).alias("cos")
    )


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SemDeDup-style semantic dedup: deterministic integer k-means
    # cells confine the near-dup comparison (Σ|cell|² work, not n²);
    # lowest id per near-dup group survives. Oracle replicates fit,
    # assignment, and within-cell pairwise cosine in SQL. The
    # synthetic embeddings have no tight duplicates (max within-cell
    # cos ≈ 0.51), so the driver query runs at 0.4 — a diversity-
    # pruning setting that actually exercises the drop path; real
    # corpora use ~0.95.
    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, n_cells=16, threshold=0.4)


def q_similarity_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # product-quantization ANN: 8 subspace codebooks (exact-integer L2
    # k-means), corpus encoded to 8 codes (16x compression), queries
    # score by asymmetric-distance lookup tables (JVM-side fold over
    # (code, lut) pairs, broadcast queries), ADC shortlist-50, exact
    # integer-L2 re-rank to top-5. Oracle replays fit, encode, LUT,
    # shortlist, and re-rank in SQL, bit-for-bit.
    from det_module_spark.operators.similarity import pq_fit, pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    books = pq_fit(emb, m=8, k=16)
    out = pq_topk(
        emb.filter(F.col("vec_id") < 10), emb, books, topk=5, shortlist=50
    )
    return out.select("query_id", "rank", "neighbor_id", "d2")


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # binary media columns through the Arrow-batched decode kernel
    docs = load_table(spark, sf_dir, "documents")
    media = media_from_documents(docs)
    return decode_features(media).select(
        "media_id", "kind", "n_bytes", "content_md5"
    )


def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    media = media_from_documents(docs)
    frames = frame_sample_plan(media, every_ms=1000)
    return frames.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.max("frame_ts_ms").alias("last_frame_ts_ms"),
    )


def q_zonal_spatial_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # J2 + §2.4 composed: raster cells -> grid-bucketed spatial join
    # against a rectangle-tiled boundary layer -> zonal mean.
    # 200x200 cells at 0.05°, 10x10 boundary features over [0,10)².
    cells = spark.range(200 * 200).select(
        (F.col("id") % 200).alias("cell_x"),
        (F.col("id") / 200).cast("long").alias("cell_y"),
    )
    points = cells.select(
        (F.col("cell_x") * F.lit(0.05) + F.lit(0.025)).alias("lon"),
        (F.col("cell_y") * F.lit(0.05) + F.lit(0.025)).alias("lat"),
        ((F.col("cell_x") * 7 + F.col("cell_y") * 13) % 100)
        .cast("double")
        .alias("value"),
    )
    bounds = rect_boundaries(spark, n_x=10, n_y=10)
    joined = spatial_join_rect(points, bounds, bucket_size=1.0)
    return zonal_extract(joined, "mean").select(
        F.col("asdf_id").cast("int").alias("asdf_id"), "exfield_0"
    )


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # binned interval join: lineitems shipped within 7 days of each
    # order's date, for the first 500 orders
    from det_module_spark.operators.rangejoin import range_join

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") < 2000
    )
    ranges = orders.select(
        "o_orderkey",
        F.col("o_orderdate").alias("r_start"),
        (F.col("o_orderdate") + F.expr("INTERVAL 7 DAYS")).alias("r_end"),
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_shipdate")
    joined = range_join(
        li, ranges, "l_shipdate", "r_start", "r_end",
        bin_size=7 * 86400,
    )
    return joined.groupBy("o_orderkey").agg(
        F.count(F.lit(1)).alias("n_shipped")
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # iterative connected components over near-dup pairs -> total
    # dedup assignment (singletons keep their own cluster)
    from det_module_spark.operators.graph import dedup_clusters

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.12)
    return dedup_clusters(pairs, all_ids=docs).select(
        "id", "cluster", F.col("is_canonical").cast("int").alias("is_canonical")
    )


def q_window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 300)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.ntile(4).over(w).alias("quartile"),
    )


def q_cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_quantity").alias("sum_qty"),
    )


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    # arbitrary grouping-set lattice (finer than cube/rollup): one
    # shuffle produces all three granularities; grouping_id
    # disambiguates the NULL-filled grouping columns
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupingSets(
        [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        F.grouping_id().alias("gid"),
        F.count(F.lit(1)).alias("n_rows"),
        # integer-cents sum: exact in int64, so the lattice levels are
        # bit-identical across engines (float sums are not)
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        ).alias("sum_price_cents"),
    )


def q_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    # distribution window functions: percent_rank / cume_dist / ntile.
    # o_orderkey tiebreak makes ntile's row numbering total-ordered,
    # so bucket assignment is engine-independent
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") < 5000
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.ntile(4).over(w).alias("quartile"),
    )


def q_zonal_weighted_spatial(spark: SparkSession, sf_dir: str) -> DataFrame:
    # hard-list (b): coverage-weighted zonal semantics with real
    # geometry — cell/boundary overlap fractions feeding weighted_*
    from det_module_spark.operators.geometry import rect_coverage_fraction

    cells = spark.range(200 * 200).select(
        (F.col("id") % 200).alias("cell_x"),
        (F.col("id") / 200).cast("long").alias("cell_y"),
    )
    cells = cells.select(
        (F.col("cell_x") * F.lit(0.05)).alias("minx"),
        (F.col("cell_y") * F.lit(0.05)).alias("miny"),
        ((F.col("cell_x") * 7 + F.col("cell_y") * 13) % 100)
        .cast("double")
        .alias("value"),
    )
    # 4 boundary rects with grid-UNaligned edges -> fractional coverage
    bounds = spark.createDataFrame(
        [
            (0, 0.52, 0.52, 4.48, 4.48),
            (1, 4.52, 0.52, 9.48, 4.48),
            (2, 0.52, 4.52, 4.48, 9.48),
            (3, 4.52, 4.52, 9.48, 9.48),
        ],
        "asdf_id INT, bminx DOUBLE, bminy DOUBLE, bmaxx DOUBLE, bmaxy DOUBLE",
    )
    joined = cells.crossJoin(F.broadcast(bounds)).withColumn(
        "coverage",
        rect_coverage_fraction(
            F.col("minx"), F.col("miny"), F.lit(0.05),
            F.col("bminx"), F.col("bminy"), F.col("bmaxx"), F.col("bmaxy"),
        ),
    ).filter(F.col("coverage") > 0)
    return _weighted_result(joined)


def _poly_cells(spark: SparkSession) -> DataFrame:
    # 40x40 grid of 0.25-sized cells over [0,10)^2. All coordinates are
    # dyadic rationals so every clip/shoelace intermediate is exactly
    # representable -> bit-identical vs the DuckDB oracle.
    return spark.range(40 * 40).select(
        (F.col("id") % 40).alias("ix"),
        (F.col("id") / 40).cast("long").alias("iy"),
    ).select(
        (F.col("ix") * F.lit(0.25)).alias("minx"),
        (F.col("iy") * F.lit(0.25)).alias("miny"),
        ((F.col("ix") * 7 + F.col("iy") * 13) % 100)
        .cast("double")
        .alias("value"),
    )


_POLY_RINGS = [
    # 0: concave L — union of rects [1.125,6.625]x[1.125,3.625] and
    #    [1.125,3.875]x[3.625,7.875] (the oracle decomposition)
    (0, [(1.125, 1.125), (6.625, 1.125), (6.625, 3.625),
         (3.875, 3.625), (3.875, 7.875), (1.125, 7.875)]),
    # 1: plus-shape (doubly concave) — vertical bar + two stubs
    (1, [(4.25, 1.875), (5.75, 1.875), (5.75, 4.375), (7.875, 4.375),
         (7.875, 5.625), (5.75, 5.625), (5.75, 8.125), (4.25, 8.125),
         (4.25, 5.625), (2.125, 5.625), (2.125, 4.375), (4.25, 4.375)]),
    # 2: plain rectangle as a ring (degenerates to the rect kernel)
    (2, [(0.375, 8.125), (2.875, 8.125), (2.875, 9.625), (0.375, 9.625)]),
]


def _weighted_result(joined: DataFrame) -> DataFrame:
    # the three weighted types in one fused aggregation over the cells
    out = zonal_aggregate(
        joined, ["weighted_mean", "weighted_sum", "weighted_count"]
    )
    return out.select(
        "asdf_id",
        _pround(F.col("`weighted_mean:exfield_0`"), 6).alias("wmean"),
        _pround(F.col("`weighted_sum:exfield_0`"), 2).alias("wsum"),
        _pround(F.col("`weighted_count:exfield_0`"), 4).alias("wcnt"),
    )


def q_zonal_weighted_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    # hard-list (b) completion (VERDICT r01 #3): coverage-weighted
    # zonal over ARBITRARY (concave) polygons — exact per-edge
    # Green's-theorem clamp-integral (operators/geometry.
    # polygon_coverage; Sutherland-Hodgman ring clip is the
    # cross-checked second implementation in tests). Reference
    # contract: queue/extract_check.py:29-31 (weighted_* need
    # partial-pixel coverage fractions of the boundary polygon).
    from det_module_spark.operators.geometry import polygon_coverage

    bounds = spark.createDataFrame(
        [(i, ring) for i, ring in _POLY_RINGS],
        "asdf_id INT, ring ARRAY<STRUCT<x: DOUBLE, y: DOUBLE>>",
    )
    joined = polygon_coverage(_poly_cells(spark), bounds, cell_size=0.25)
    return _weighted_result(joined)


def q_zonal_weighted_triangle(spark: SparkSession, sf_dir: str) -> DataFrame:
    # non-axis-aligned edges: two right triangles whose hypotenuses cut
    # cells diagonally; the oracle integrates the diagonal half-plane
    # clamp(C-x-y, 0, s) in closed form. Leg coordinates sit on cell
    # boundaries and legs are powers of two, so the clip intersections
    # are exact dyadics on both engines.
    from det_module_spark.operators.geometry import polygon_coverage

    tris = [
        (0, [(0.5, 0.5), (8.5, 0.5), (0.5, 8.5)]),    # x+y <= 9
        (1, [(9.5, 9.5), (1.5, 9.5), (9.5, 1.5)]),    # x+y >= 11
    ]
    bounds = spark.createDataFrame(
        tris, "asdf_id INT, ring ARRAY<STRUCT<x: DOUBLE, y: DOUBLE>>"
    )
    joined = polygon_coverage(_poly_cells(spark), bounds, cell_size=0.25)
    return _weighted_result(joined)


def q_request_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    # E1-E4 end-to-end as a driver-checked query (VERDICT r01 #7): a
    # fixture request expands to 4 extract items (2 files x 2 extract
    # types), anti-joins the (fresh) cache manifest, executes the
    # missing zonal extracts, commits them through the transaction-log
    # cache, and wide-merges with the reference's rename algebra
    # (dataset.temporal.extract_type columns). The oracle recomputes
    # the same per-item aggregates and assembles the same wide table.
    import tempfile

    from det_module_spark.plans.runner import Engine

    request = {
        "_id": "lifecycle0001",
        "boundary": {"name": "synthetic_adm"},
        "raster_data": [
            {
                "name": "synth_cov",
                "options": {"extract_types": ["mean", "sum"]},
                "files": [
                    {"name": "synth_cov_1998", "path": "/x"},
                    {"name": "synth_cov_2008", "path": "/y"},
                ],
            }
        ],
    }
    base = _cells(spark, sf_dir)

    def cell_source(item):
        # per-temporal value shift so the four items differ
        return base.withColumn(
            "value", F.col("value") + F.lit(int(item.temporal) % 7)
        )

    eng = Engine(
        spark,
        tempfile.mkdtemp(prefix="det_lifecycle_"),
        cell_source=cell_source,
    )
    res = eng.run_request(request)
    assert res.status == 1 and res.merged is not None
    return res.merged


def q_raster_file_zonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    # S9 end-to-end on a REAL file (VERDICT r01 #6): write a baseline
    # TIFF (deterministic value formula + nodata holes), decode it
    # through read_raster_cells' windowed mapInPandas kernel (pure
    # codec — no rasterio in this container), zonal-aggregate. The
    # oracle recomputes the same formula in SQL, so the whole
    # file→cells→null-mapping→agg path is value-checked.
    import os
    import tempfile

    import numpy as np

    from det_module_spark.sources.raster import read_raster_cells
    from det_module_spark.sources.tiff import write_tiff

    h, w = 120, 200
    yy, xx = np.mgrid[0:h, 0:w]
    arr = ((xx * 7 + yy * 13) % 100).astype(np.float32)
    arr[(xx + yy) % 11 == 0] = -1.0  # nodata holes
    path = os.path.join(tempfile.gettempdir(), "det_module_raster_q1.tif")
    if not os.path.exists(path):
        # atomic publish: concurrent streams write identical bytes to
        # a private temp name, last rename wins, readers never see a
        # partial file
        fd, tmp = tempfile.mkstemp(dir=tempfile.gettempdir(), suffix=".tif")
        os.close(fd)
        write_tiff(tmp, arr, nodata=-1.0, rows_per_strip=32)
        os.replace(tmp, path)
    cells = read_raster_cells(spark, [("cov", "2020", path)], tile_size=64)
    return (
        cells.withColumn("asdf_id", F.expr("cell_y div 30"))
        .groupBy("asdf_id")
        .agg(
            F.count("value").alias("n_cells"),
            F.sum("value").alias("sum_value"),
        )
    )


def q_spatial_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    # nearest-neighbor spatial assignment (point → closest admin
    # centroid): broadcast-argmin, one hash agg keyed by point.
    # Deterministic: dyadic coordinates, exact d², ties → lowest id.
    from det_module_spark.operators.spatial import nearest_centroid_join

    pts = spark.range(4000).select(
        F.col("id").alias("point_id"),
        ((F.col("id") % 64) * F.lit(0.15625)).alias("lon"),       # 5/32
        (F.expr("id div 64") * F.lit(0.15625)).alias("lat"),
    )
    centers = spark.range(16).select(
        F.col("id").alias("center_id"),
        ((F.col("id") % 4) * F.lit(2.5) + F.lit(1.25)).alias("cx"),
        (F.expr("id div 4") * F.lit(2.5) + F.lit(1.25)).alias("cy"),
    )
    out = nearest_centroid_join(pts, centers)
    return out.select(
        "point_id", "nearest_id", _pround(F.col("dist2"), 6).alias("dist2")
    )


def q_raster_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # overview/pyramid step: 8x8 block aggregation of a cell grid —
    # one hash agg, output 1/64 of the cells. Integer-valued cells so
    # block means are exact rationals (synthetic_raster's sin/cos
    # would ride on libm last-bit differences between engines).
    from det_module_spark.sources.raster import downsample_cells

    cells = spark.range(256 * 256).select(
        F.lit("cov").alias("dataset"),
        F.lit("2020").alias("temporal"),
        F.expr("id div 256").alias("cell_y"),
        (F.col("id") % 256).alias("cell_x"),
        ((F.col("id") % 256) * 7 + F.expr("id div 256") * 13)
        .cast("double")
        .alias("value"),
    )
    out = downsample_cells(cells, factor=8)
    return out.select(
        "block_y",
        "block_x",
        "n_cells",
        _pround(F.col("mean_value"), 6).alias("mean_value"),
        _pround(F.col("min_value"), 6).alias("min_value"),
        _pround(F.col("max_value"), 6).alias("max_value"),
    )


def q_expectations_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # declarative data-quality rules evaluated in ONE aggregation pass
    # over orders (each rule = a conditional count agg on the shared
    # scan; report = single-row explode). 'unique' uses the pinnable
    # HLL distinct (see approx_stats) so even the distinct rule is
    # shuffle-free.
    from det_module_spark.operators.expectations import expectations_report

    orders = load_table(spark, sf_dir, "orders")
    rules = [
        {"col": "o_custkey", "rule": "not_null"},
        {"col": "o_orderkey", "rule": "unique", "exact": True},
        {"col": "o_totalprice", "rule": "between", "lo": 0, "hi": 200000},
        {"col": "o_orderstatus", "rule": "in_set", "values": ["O", "F"]},
        {"col": "o_orderpriority", "rule": "matches",
         "pattern": "^[1-5]-[A-Z]+$"},
        {"col": "o_orderdate", "rule": "max_null_frac", "frac": 0.05},
    ]
    out = expectations_report(orders, rules)
    return out.select(
        "col", "rule", "n_rows", "n_violations",
        _pround(F.col("violation_frac"), 8).alias("violation_frac"),
        "passed",
    )


def q_events_quality_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    # windowed data-quality over the event stream (batch semantics of
    # the streaming expectations aggregation — identical expression
    # runs under readStream with a watermark, tested in
    # tests/test_expectations.py)
    from det_module_spark.operators.expectations import (
        windowed_expectations,
    )

    rules = [
        {"col": "user_id", "rule": "not_null"},
        {"col": "value", "rule": "between", "lo": 0, "hi": 400},
        {"col": "event_type", "rule": "in_set",
         "values": ["view", "click", "purchase"]},
    ]
    return windowed_expectations(
        _events(spark, sf_dir), rules, ts_col="ts", window="1 hour"
    )


def q_bloom_semi_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    # bloom-filter pre-join pruning: a 0.5 KB bitmap over high-balance
    # customers drops ~90% of orders rows with zero shuffle and no
    # join before the real semi-join would run; per-status counts of
    # bloom-passed vs exactly-matching rows expose the (deterministic,
    # oracle-checked) false-positive margin.
    from det_module_spark.operators.bloom import bloom_filter_df

    orders = load_table(spark, sf_dir, "orders")
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .select("c_custkey")
    )
    pruned = bloom_filter_df(orders, cust, "o_custkey", "c_custkey")
    n_bloom = pruned.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_bloom_pass")
    )
    n_exact = (
        orders.join(
            cust, orders.o_custkey == cust.c_custkey, "left_semi"
        )
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_exact"))
    )
    return n_bloom.join(n_exact, "o_orderstatus", "outer").select(
        "o_orderstatus",
        F.coalesce("n_bloom_pass", F.lit(0)).alias("n_bloom_pass"),
        F.coalesce("n_exact", F.lit(0)).alias("n_exact"),
    )


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # count-min sketch heavy hitters over lineitem suppliers: the
    # counting state is a fixed 4x256 mergeable table however large
    # the fact table; engine-portable integer hashing makes the
    # estimates (and thus the whole query) deterministic and
    # oracle-checkable.
    from det_module_spark.operators.cms import cms_heavy_hitters

    li = load_table(spark, sf_dir, "lineitem")
    return cms_heavy_hitters(li, "l_suppkey", width=256, depth=4, top=20)


def q_raster_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-cell linear trend across 12 temporal raster steps (the
    # reference's precip-per-year stacks): exact-moment least squares,
    # one hash agg over cells x steps. Integer values with a per-cell
    # slope pattern + nulls (every 7th observation missing).
    from det_module_spark.sources.raster import cell_trend

    n_side, n_t = 64, 12
    grid = spark.range(n_side * n_side * n_t).select(
        (F.col("id") % n_t).alias("t"),
        F.expr(f"(id div {n_t}) div {n_side}").alias("cell_y"),
        F.expr(f"(id div {n_t}) % {n_side}").alias("cell_x"),
    )
    base = F.col("cell_x") * 7 + F.col("cell_y") * 13
    slope_pat = (F.col("cell_x") + F.col("cell_y")) % 5
    cells = grid.select(
        "t",
        "cell_y",
        "cell_x",
        F.when(
            (F.col("cell_x") + F.col("cell_y") + F.col("t")) % 7 != 0,
            (base + slope_pat * F.col("t")).cast("double"),
        ).alias("value"),
    )
    out = cell_trend(cells)
    return out.select(
        "cell_y",
        "cell_x",
        "n",
        _pround(F.col("slope"), 6).alias("slope"),
        _pround(F.col("intercept"), 6).alias("intercept"),
    )


def q_polygon_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact polygon aggregates over the boundary rings (area /
    # perimeter / area-weighted centroid) — pure Column folds over the
    # edge list; dyadic vertices keep every product exact, sqrt is
    # correctly rounded IEEE, so values hash-match the SQL oracle
    # without tolerance.
    from det_module_spark.operators.geometry import (
        ring_area,
        ring_centroid,
        ring_perimeter,
    )

    rings = _POLY_RINGS + [
        (3, [(0.5, 0.5), (8.5, 0.5), (0.5, 8.5)]),
        (4, [(9.5, 9.5), (1.5, 9.5), (9.5, 1.5)]),   # clockwise
    ]
    bounds = spark.createDataFrame(
        rings, "asdf_id INT, ring ARRAY<STRUCT<x: DOUBLE, y: DOUBLE>>"
    )
    r = F.col("ring")
    c = ring_centroid(r)
    return bounds.select(
        "asdf_id",
        _pround(ring_area(r), 6).alias("area"),
        _pround(ring_perimeter(r), 6).alias("perimeter"),
        _pround(c["x"], 6).alias("cx"),
        _pround(c["y"], 6).alias("cy"),
    )


def _skewed_fact_dim(spark: SparkSession, sf_dir: str):
    """Deliberately zipfian fact/dim pair (VERDICT r02 #6): 60% of
    lineitem rows collapse onto skew_key 0, the rest spread over
    1..99. The dim is 100 keys with integer weights."""
    li = load_table(spark, sf_dir, "lineitem")
    fact = li.select(
        F.when(F.col("l_orderkey") % 100 < 60, F.lit(0).cast("long"))
        .otherwise((F.col("l_orderkey") % 100).cast("long"))
        .alias("skew_key"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    dim = spark.range(100).select(
        F.col("id").alias("skew_key"), (F.col("id") * 7 + 3).alias("weight")
    )
    return fact, dim


_SKEW_JOIN_SQL = """
    WITH fact AS (
      SELECT CASE WHEN l_orderkey % 100 < 60 THEN 0
                  ELSE l_orderkey % 100 END AS skew_key,
             CAST(l_quantity AS BIGINT) AS qty
      FROM lineitem),
    dim AS (SELECT j AS skew_key, j * 7 + 3 AS weight
            FROM range(0, 100) t(j))
    SELECT skew_key, COUNT(*) AS n_rows,
           CAST(SUM(qty * weight) AS BIGINT) AS wsum
    FROM fact JOIN dim USING (skew_key)
    GROUP BY skew_key
"""


def q_skew_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the AQE path: force a sort-merge join (no broadcast) so the hot
    # key's shuffle partition is real, and let AQE's skew-join split
    # it at runtime (spark.sql.adaptive.skewJoin, on by default).
    # Exact integer aggregate -> hash-clean oracle. The salted variant
    # below must produce the identical table.
    fact, dim = _skewed_fact_dim(spark, sf_dir)
    joined = fact.join(dim.hint("merge"), "skew_key")
    return joined.groupBy("skew_key").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("qty") * F.col("weight")).alias("wsum"),
    )


def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the engine-independent fallback for the same zipfian join:
    # deterministic row-hash salt on the fact side, dim replicated
    # n_salts ways, join on (key, salt) — same output, skew spread
    # over 16 reducers (operators/skew.salted_join)
    from det_module_spark.operators.skew import salted_join

    fact, dim = _skewed_fact_dim(spark, sf_dir)
    joined = salted_join(fact, dim.hint("merge"), "skew_key", n_salts=16)
    return joined.groupBy("skew_key").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("qty") * F.col("weight")).alias("wsum"),
    )


def q_zonal_salted_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    # skew-immune two-stage aggregation; must equal the plain mean
    from det_module_spark.operators.skew import salted_mean

    cells = _cells(spark, sf_dir)
    out = salted_mean(cells, "asdf_id", "value", n_salts=16)
    return out.select("asdf_id", F.col("mean_value").alias("exfield_0"))


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # as-of join: for every click, the latest view at-or-before it per
    # user (trades/quotes pattern); composition of union+window
    ev = _events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "value"
    )
    out = asof_join(clicks, views, key="user_id", ts="ts", value_cols=["value"])
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        F.date_format("asof_ts", "yyyy-MM-dd HH:mm:ss").alias("view_ts"),
        F.col("asof_value").alias("view_value"),
    )


def q_rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # multi-level aggregation: ROLLUP(returnflag, linestatus)
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_quantity").alias("sum_qty"),
    )


def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = embedding_near_dup_pairs(
        emb, threshold=0.35, probe=emb.filter(F.col("vec_id") < 100)
    )
    return pairs.select(
        "id_a", "id_b", _pround(F.col("cos"), 6).alias("cos")
    )


def q_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # VERDICT r02 #3: the SCALE path for embedding near-dup — LSH
    # bucket self-join generates candidates, exact cosine runs on
    # candidates only (operators/dedup.embedding_near_dup_lsh). The
    # oracle replays the integer-exact bucket assignment in SQL, so
    # this approximate path is value-checked bit-for-bit, unlike the
    # broadcast verifier (dedup_embedding_cosine) which would never
    # run at 100 TB.
    from det_module_spark.operators.dedup import embedding_near_dup_lsh

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = embedding_near_dup_lsh(
        emb, threshold=0.35, n_planes=4, n_tables=8
    )
    return pairs.select(
        "id_a", "id_b", _pround(F.col("cos"), 6).alias("cos")
    )


def q_join_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    # incremental view maintenance for joins
    # (operators/incremental.join_delta): the rows the standing
    # orders⋈lineitem view gains from a batch of new orders + new
    # shipments = the three mixed delta terms — no rescan of the
    # standing result; aggregated per priority in exact cents
    from det_module_spark.operators.incremental import join_delta

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey"), "o_orderpriority", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        F.expr(
            "CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)"
        ).alias("cents"),
        "l_shipdate",
    )
    a = orders.filter(F.col("o_orderdate") < "1997-01-01").drop(
        "o_orderdate"
    )
    da = orders.filter(F.col("o_orderdate") >= "1997-01-01").drop(
        "o_orderdate"
    )
    b = li.filter(F.col("l_shipdate") < "1997-07-01").drop("l_shipdate")
    db = li.filter(F.col("l_shipdate") >= "1997-07-01").drop("l_shipdate")
    delta = join_delta(a, da, b, db, on=["o_orderkey"])
    return (
        delta.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("cents").alias("sum_cents"),
        )
        .orderBy("o_orderpriority")
    )


_JOIN_DELTA_SQL = """
    WITH a AS (SELECT o_orderkey, o_orderpriority FROM orders
               WHERE o_orderdate < DATE '1997-01-01'),
    da AS (SELECT o_orderkey, o_orderpriority FROM orders
           WHERE o_orderdate >= DATE '1997-01-01'),
    b AS (SELECT l_orderkey,
                 CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                   AS cents
          FROM lineitem WHERE l_shipdate < DATE '1997-07-01'),
    db AS (SELECT l_orderkey,
                  CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                    AS cents
           FROM lineitem WHERE l_shipdate >= DATE '1997-07-01'),
    d AS (
      SELECT da.o_orderpriority, b.cents
      FROM da JOIN b ON da.o_orderkey = b.l_orderkey
      UNION ALL
      SELECT a.o_orderpriority, db.cents
      FROM a JOIN db ON a.o_orderkey = db.l_orderkey
      UNION ALL
      SELECT da.o_orderpriority, db.cents
      FROM da JOIN db ON da.o_orderkey = db.l_orderkey)
    SELECT o_orderpriority, COUNT(*) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM d GROUP BY 1 ORDER BY 1
"""


def q_join_delta_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deletes-capable IVM (operators/incremental.join_delta_retract):
    # the change batches carry signed weights (+1 insert / -1 delete)
    # and the view delta is the same three mixed join terms over
    # Z-set semantics (output weight = product of input weights).
    # Inserts: post-97 orders, post-Jul-97 shipments; deletes: every
    # standing order with key%10==0 and every standing shipment with
    # key%7==0. The ORACLE recomputes the aggregate over the new
    # state minus the old state directly — an independent check of
    # the incremental identity, not a mirror of the implementation.
    from det_module_spark.operators.incremental import join_delta_retract

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey"), "o_orderpriority", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        F.expr(
            "CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)"
        ).alias("cents"),
        "l_shipdate",
    )
    a = orders.filter(F.col("o_orderdate") < "1997-01-01").drop(
        "o_orderdate"
    )
    da = (
        orders.filter(F.col("o_orderdate") >= "1997-01-01")
        .drop("o_orderdate")
        .withColumn("_w", F.lit(1))
        .unionByName(
            a.filter(F.col("o_orderkey") % 10 == 0).withColumn(
                "_w", F.lit(-1)
            )
        )
    )
    b = li.filter(F.col("l_shipdate") < "1997-07-01").drop("l_shipdate")
    db = (
        li.filter(F.col("l_shipdate") >= "1997-07-01")
        .drop("l_shipdate")
        .withColumn("_w", F.lit(1))
        .unionByName(
            b.filter(F.col("o_orderkey") % 7 == 0).withColumn(
                "_w", F.lit(-1)
            )
        )
    )
    d = join_delta_retract(a, da, b, db, on=["o_orderkey"])
    return (
        d.groupBy("o_orderpriority")
        .agg(
            F.sum("_w").alias("net_rows"),
            F.sum(F.col("_w") * F.col("cents")).alias("net_cents"),
        )
        .filter((F.col("net_rows") != 0) | (F.col("net_cents") != 0))
        .orderBy("o_orderpriority")
    )


_JOIN_DELTA_RETRACT_SQL = """
    WITH lic AS (SELECT l_orderkey AS o_orderkey,
                        CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                          AS cents,
                        l_shipdate
                 FROM lineitem),
    a_old AS (SELECT o_orderkey, o_orderpriority FROM orders
              WHERE o_orderdate < DATE '1997-01-01'),
    a_new AS (SELECT o_orderkey, o_orderpriority FROM orders
              WHERE NOT (o_orderdate < DATE '1997-01-01'
                         AND o_orderkey % 10 = 0)),
    b_old AS (SELECT o_orderkey, cents FROM lic
              WHERE l_shipdate < DATE '1997-07-01'),
    b_new AS (SELECT o_orderkey, cents FROM lic
              WHERE NOT (l_shipdate < DATE '1997-07-01'
                         AND o_orderkey % 7 = 0)),
    oldv AS (SELECT o_orderpriority, COUNT(*) AS n,
                    CAST(SUM(cents) AS BIGINT) AS s
             FROM a_old JOIN b_old USING (o_orderkey) GROUP BY 1),
    newv AS (SELECT o_orderpriority, COUNT(*) AS n,
                    CAST(SUM(cents) AS BIGINT) AS s
             FROM a_new JOIN b_new USING (o_orderkey) GROUP BY 1)
    SELECT COALESCE(newv.o_orderpriority, oldv.o_orderpriority)
             AS o_orderpriority,
           CAST(COALESCE(newv.n, 0) - COALESCE(oldv.n, 0) AS BIGINT)
             AS net_rows,
           CAST(COALESCE(newv.s, 0) - COALESCE(oldv.s, 0) AS BIGINT)
             AS net_cents
    FROM newv FULL OUTER JOIN oldv
      ON newv.o_orderpriority = oldv.o_orderpriority
    WHERE COALESCE(newv.n, 0) - COALESCE(oldv.n, 0) != 0
       OR COALESCE(newv.s, 0) - COALESCE(oldv.s, 0) != 0
    ORDER BY o_orderpriority
"""


# The three batch-keyed TWS queries below share the stream (events),
# the key (event_type) and the micro-batch schedule (event_id%3),
# differing only in which per-key summary they maintain. Rounds 4-10
# served them from ONE combined replay whose COLLECTED ROWS were
# memoized module-level per sf_dir — a cross-call result cache the
# round-10 verdict ruled out as gaming (only the first caller paid
# the replay; every later call and every bench repeat in the same
# process got createDataFrame(memo_rows) for free). Removed per
# VERDICT r10 #2: each query now runs its OWN single-purpose replay
# on every invocation — the tested protocol-coverage processors
# (streaming/state.py), whose per-query emissions the combined pass
# was proven row-identical to (replay.py docstring). No module-level
# result cache remains anywhere in this file.


def _tws_event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    # shared PROJECTION (a lazy plan, not a result): cents-quantized
    # values ride in a double so the float state accumulates exactly
    # and hashes clean (ROUND_NOTES float rules)
    return load_table(spark, sf_dir, "events").select(
        (F.col("event_id") % 3).alias("batch"),
        F.col("event_type"),
        F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)")
        .cast("double")
        .alias("value"),
        (F.col("user_id") % 10).alias("bucket"),
    )


def q_events_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    # transformWithState, driver-oracled: replay the events table
    # through the TWS running-totals state (Python state client →
    # protobuf wire protocol → RocksDB state store), one micro-batch
    # per event_id%3 bucket, UPDATE mode. The emitted rows are the
    # per-key cumulative (count, sum) trajectory, which the oracle
    # reproduces as a cumulative window over per-batch aggregates.
    from det_module_spark.streaming.replay import replay_running_totals

    ev = _tws_event_stream(spark, sf_dir).drop("bucket")
    out = replay_running_totals(ev, "batch", "event_type", "value")
    return out.select("key", "n_events", "sum_value").orderBy(
        "key", "n_events"
    )


_EVENTS_RUNNING_TOTALS_SQL = """
    WITH e AS (SELECT event_id % 3 AS batch, event_type AS key,
                      CAST(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                           AS DOUBLE) AS v
               FROM events),
    pb AS (SELECT batch, key, COUNT(*) AS n, SUM(v) AS s
           FROM e GROUP BY 1, 2)
    SELECT key,
           CAST(SUM(n) OVER (PARTITION BY key ORDER BY batch)
                AS BIGINT) AS n_events,
           SUM(s) OVER (PARTITION BY key ORDER BY batch) AS sum_value
    FROM pb ORDER BY key, n_events
"""


def q_events_topk_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    # transformWithState ListState, driver-oracled: running top-3
    # DISTINCT cent-values per event_type, replayed one micro-batch
    # per event_id%3 bucket; each touched batch emits the cumulative
    # top-3 as a desc CSV string. Bounded state (k rows per key) —
    # the dropped tail can never re-enter a running top-k.
    from det_module_spark.streaming.replay import replay_topk_distinct

    ev = _tws_event_stream(spark, sf_dir).drop("bucket")
    out = replay_topk_distinct(ev, "batch", "event_type", "value", k=3)
    return out.select("key", "topk").orderBy("key", "topk")


_EVENTS_TOPK_SQL = """
    WITH e AS (SELECT event_id % 3 AS b, event_type AS key,
                      CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v
               FROM events),
    touched AS (SELECT DISTINCT key, b FROM e),
    d AS (SELECT DISTINCT t.key, t.b, e.v
          FROM touched t JOIN e ON e.key = t.key AND e.b <= t.b),
    r AS (SELECT key, b, v,
                 ROW_NUMBER() OVER (PARTITION BY key, b
                                    ORDER BY v DESC) AS rn
          FROM d)
    SELECT key,
           string_agg(CAST(v AS VARCHAR), ',' ORDER BY v DESC) AS topk
    FROM r WHERE rn <= 3
    GROUP BY key, b
    ORDER BY key, topk
"""


def q_events_bucket_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    # transformWithState MapState, driver-oracled: per event_type a
    # bucket -> count map (bucket = user_id%10); each touched batch
    # emits (key, distinct buckets so far, events so far). Exercises
    # the userKey message family of the state protocol end-to-end.
    from det_module_spark.streaming.replay import replay_bucket_counts

    ev = _tws_event_stream(spark, sf_dir).drop("value")
    out = replay_bucket_counts(ev, "batch", "event_type", "bucket")
    return out.select("key", "n_buckets", "n_events").orderBy(
        "key", "n_events"
    )


_EVENTS_BUCKET_SQL = """
    WITH e AS (SELECT event_id % 3 AS b, event_type AS key,
                      user_id % 10 AS bucket
               FROM events),
    touched AS (SELECT DISTINCT key, b FROM e),
    agg AS (SELECT t.key, t.b,
                   COUNT(DISTINCT e.bucket) AS n_buckets,
                   COUNT(*) AS n_events
            FROM touched t JOIN e ON e.key = t.key AND e.b <= t.b
            GROUP BY t.key, t.b)
    SELECT key, CAST(n_buckets AS BIGINT) AS n_buckets,
           CAST(n_events AS BIGINT) AS n_events
    FROM agg ORDER BY key, n_events
"""


def q_events_session_flush(spark: SparkSession, sf_dir: str) -> DataFrame:
    # transformWithState with EVENT-TIME TIMERS, driver-oracled: gap
    # sessionization where data-closed sessions flush inline and each
    # key's final open session is flushed by handleExpiredTimer when
    # the watermark passes last_event + gap. Batches are assigned in
    # event-time order (ntile over ts — a global window, but it is
    # the replay harness's control plane over one SF table, not a
    # data-plane operator), so emitted sessions are exactly SQL gap
    # sessions + the final-watermark cutoff on each key's last one.
    from pyspark.sql import Window

    from det_module_spark.streaming.replay import replay_session_flush

    ev = load_table(spark, sf_dir, "events").select(
        (F.col("user_id") % 50).cast("string").alias("key"),
        "ts",
        "event_id",
    )
    # batch count is a pure harness knob: emission content is batch-
    # schedule independent (see replay_session_flush). 3 batches is
    # the floor that still exercises cross-batch timer carry twice
    # (two watermark advances with live timers) — same hashes as 4/6
    # at the lowest fixed micro-batch cost
    w = Window.orderBy("ts", "event_id")
    df = ev.withColumn("batch", F.ntile(3).over(w) - 1).drop("event_id")
    out = replay_session_flush(
        df, "batch", "key", "ts", gap_ms=3_600_000, watermark="30 minutes"
    )
    return out.orderBy("key", "end_ms")


_EVENTS_SESSION_FLUSH_SQL = """
    WITH e AS (SELECT CAST(user_id % 50 AS VARCHAR) AS key,
                      epoch_us(ts) // 1000 AS ts_ms
               FROM events),
    s AS (SELECT key, ts_ms,
                 CASE WHEN ts_ms - LAG(ts_ms) OVER (PARTITION BY key
                                                    ORDER BY ts_ms)
                           > 3600000 THEN 1 ELSE 0 END AS brk
          FROM e),
    g AS (SELECT key, ts_ms,
                 SUM(brk) OVER (PARTITION BY key ORDER BY ts_ms
                                ROWS UNBOUNDED PRECEDING) AS sess
          FROM s),
    sess AS (SELECT key, sess, COUNT(*) AS n_events,
                    MAX(ts_ms) AS end_ms
             FROM g GROUP BY 1, 2),
    wm AS (SELECT MAX(ts_ms) - 1800000 AS final_wm FROM e),
    x AS (SELECT key, sess, n_events, end_ms,
                 MAX(sess) OVER (PARTITION BY key) AS last_sess
          FROM sess)
    SELECT key, CAST(n_events AS BIGINT) AS n_events,
           CAST(end_ms AS BIGINT) AS end_ms
    FROM x, wm
    WHERE sess < last_sess OR end_ms + 3600000 <= final_wm
    ORDER BY key, end_ms
"""


def q_dense_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    # surrogate-key assignment WITHOUT the global-window trap
    # (operators/ids.dense_ids): range partition + per-partition
    # counts + offset enumeration — the plan has no empty-partition-
    # spec Window, yet ids equal ROW_NUMBER() OVER (ORDER BY key) - 1
    from det_module_spark.operators.ids import dense_ids

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name"
    )
    return dense_ids(cust, "c_custkey").orderBy("row_id")


_DENSE_IDS_SQL = """
    SELECT c_custkey, c_name,
           CAST(ROW_NUMBER() OVER (ORDER BY c_custkey) - 1 AS BIGINT)
             AS row_id
    FROM customer ORDER BY row_id
"""


def q_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    # KMV sketch algebra (sketch.kmv_set_estimates): union +
    # intersection distinct estimates for two customer sets from
    # their bottom-64 sketches alone, alongside the exact answers —
    # estimate AND its error are deterministic and hash-checked
    from det_module_spark.operators.sketch import kmv_set_estimates

    # ONE corpus pass: distinct (priority, custkey) for the two
    # priorities, materialized — the KMV sketches operate on distinct
    # values (sketch(multiset) == sketch(distinct set)), and the
    # exact-answer paths reuse the same compact key sets, instead of
    # Catalyst re-scanning orders per consumer (sketch-a, sketch-b,
    # exact-union, exact-intersection ×2: 8 scans for a 1-row answer
    # at any scale — VERDICT r09 #4)
    keys = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .select("o_orderpriority", "o_custkey")
        .distinct()
        .localCheckpoint(eager=True)
    )
    ka = keys.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_custkey"
    )
    kb = keys.filter(F.col("o_orderpriority") == "5-LOW").select(
        "o_custkey"
    )
    est = kmv_set_estimates(
        ka, kb, F.col("o_custkey"), F.col("o_custkey"), k=64
    ).select("est_union", "est_intersection")
    exact = (
        ka.unionByName(kb)
        .distinct()
        .agg(F.count(F.lit(1)).alias("exact_union"))
        .crossJoin(
            ka.join(kb, "o_custkey").agg(
                F.count(F.lit(1)).alias("exact_intersection")
            )
        )
    )
    return est.crossJoin(F.broadcast(exact))


def _kmv_set_sql(k: int = 64) -> str:
    scale = float(k - 1) * float(1 << 60)
    h = (
        "CAST(concat('0x', substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))"
        " AS BIGINT)"
    )
    return f"""
    WITH a AS (SELECT DISTINCT {h} AS h FROM orders
               WHERE o_orderpriority = '1-URGENT' ORDER BY h LIMIT {k}),
    b AS (SELECT DISTINCT {h} AS h FROM orders
          WHERE o_orderpriority = '5-LOW' ORDER BY h LIMIT {k}),
    u AS (SELECT DISTINCT h FROM (SELECT h FROM a UNION ALL
                                  SELECT h FROM b) ORDER BY h LIMIT {k}),
    f AS (SELECT u.h,
                 CASE WHEN a.h IS NOT NULL AND b.h IS NOT NULL
                      THEN 1 ELSE 0 END AS in_both
          FROM u LEFT JOIN a ON u.h = a.h LEFT JOIN b ON u.h = b.h),
    g AS (SELECT COUNT(*) AS n_seen, MAX(h) AS kth,
                 CAST(SUM(in_both) AS BIGINT) AS n_both FROM f),
    e AS (SELECT n_seen, n_both,
                 CASE WHEN n_seen < {k} THEN n_seen
                      ELSE CAST(FLOOR({scale!r} / CAST(kth AS DOUBLE))
                                AS BIGINT) END AS est_union
          FROM g),
    ests AS (SELECT est_union,
                    CASE WHEN n_seen < {k} THEN n_both
                         ELSE CAST(((n_both * est_union)
                                    - (n_both * est_union) % {k}) // {k}
                                   AS BIGINT) END AS est_intersection
             FROM e),
    ka AS (SELECT DISTINCT o_custkey FROM orders
           WHERE o_orderpriority = '1-URGENT'),
    kb AS (SELECT DISTINCT o_custkey FROM orders
           WHERE o_orderpriority = '5-LOW'),
    ex AS (SELECT
             (SELECT COUNT(*) FROM (SELECT o_custkey FROM ka
                                    UNION SELECT o_custkey FROM kb))
               AS exact_union,
             (SELECT COUNT(*) FROM ka JOIN kb USING (o_custkey))
               AS exact_intersection)
    SELECT est_union, est_intersection, exact_union, exact_intersection
    FROM ests, ex
    """


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # corpus-curation diagnostic: near-dup pair counts per unordered
    # SOURCE pair — which feeds are duplicating each other (cross
    # cells) vs internally redundant (diagonal). Broadcast the tiny
    # (doc_id, source) map onto the oracled pair table.
    from det_module_spark.operators.dedup import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.12)
    src = docs.select("doc_id", "source")
    m = (
        pairs.join(
            F.broadcast(
                src.select(
                    F.col("doc_id").alias("id_a"),
                    F.col("source").alias("source_a"),
                )
            ),
            "id_a",
        )
        .join(
            F.broadcast(
                src.select(
                    F.col("doc_id").alias("id_b"),
                    F.col("source").alias("source_b"),
                )
            ),
            "id_b",
        )
        .select(
            F.least("source_a", "source_b").alias("src_lo"),
            F.greatest("source_a", "source_b").alias("src_hi"),
        )
        .groupBy("src_lo", "src_hi")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    return m.orderBy("src_lo", "src_hi")


def _source_overlap_sql(threshold: float = 0.12, max_df: int = 1000) -> str:
    return (
        _SHINGLES_SQL
        + f""",
    shh AS (SELECT doc_id,
                   CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT)
                     AS shingle
            FROM sh),
    keep AS (SELECT shingle FROM shh GROUP BY shingle
             HAVING COUNT(*) <= {max_df}),
    sh2 AS (SELECT doc_id, shingle FROM shh JOIN keep USING (shingle)),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh2 GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
      FROM sh2 a JOIN sh2 b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    prs AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter)
            >= {threshold})
    SELECT least(da.source, db.source) AS src_lo,
           greatest(da.source, db.source) AS src_hi,
           COUNT(*) AS n_pairs
    FROM prs
    JOIN documents da ON da.doc_id = id_a
    JOIN documents db ON db.doc_id = id_b
    GROUP BY 1, 2 ORDER BY src_lo, src_hi
    """
    )


def q_span_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # span REMOVAL (spandedup.strip_repeated_tiles): all-but-one
    # occurrence of every duplicated 24-char tile cut corpus-wide,
    # canonical first = smallest (doc_id, tile_id); reports exact
    # char counts + integer-ppm removed per doc
    from det_module_spark.operators.spandedup import strip_repeated_tiles

    docs = load_table(spark, sf_dir, "documents")
    return strip_repeated_tiles(docs, tile=24).orderBy("doc_id")


_SPAN_STRIP_SQL = """
    WITH tiles AS (
      SELECT doc_id, tile_id,
             substring(text, CAST(tile_id * 24 + 1 AS INT), 24) AS tile_text
      FROM documents,
           LATERAL UNNEST(range((length(text) - length(text) % 24) // 24))
             AS t(tile_id)),
    kept AS (
      SELECT doc_id, tile_id, tile_text FROM (
        SELECT doc_id, tile_id, tile_text,
               ROW_NUMBER() OVER (PARTITION BY tile_text
                                  ORDER BY doc_id, tile_id) AS rn
        FROM tiles) WHERE rn = 1),
    ktext AS (
      SELECT doc_id,
             string_agg(tile_text, '' ORDER BY tile_id) AS kept_text
      FROM kept GROUP BY doc_id),
    base AS (
      SELECT d.doc_id,
             CAST(length(d.text) AS BIGINT) AS orig_len,
             CAST(length(COALESCE(k.kept_text, ''))
                  + length(d.text) % 24 AS BIGINT) AS clean_len
      FROM documents d LEFT JOIN ktext k USING (doc_id))
    SELECT doc_id, orig_len, clean_len,
           CAST(CASE WHEN orig_len > 0
                THEN ((orig_len - clean_len) * 1000000
                      - ((orig_len - clean_len) * 1000000) % orig_len)
                     // orig_len
                ELSE 0 END AS BIGINT) AS removed_ppm
    FROM base ORDER BY doc_id
"""


def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    # leakage-safe train/val/test split: near-dup clusters first, the
    # 80/10/10 hash split assigned on the CLUSTER id — near-duplicate
    # documents can never straddle splits (train/eval contamination),
    # and the output proves it (max_splits_per_cluster = 1)
    from det_module_spark.operators.dedup import ngram_jaccard_pairs
    from det_module_spark.operators.graph import dedup_clusters
    from det_module_spark.operators.sampling import assign_split

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.12)
    clusters = dedup_clusters(pairs, all_ids=docs).select("id", "cluster")
    assigned = assign_split(
        clusters,
        F.col("cluster"),
        {"train": 0.8, "val": 0.1, "test": 0.1},
    )
    leak = assigned.groupBy("cluster").agg(
        F.countDistinct("split").alias("ns")
    )
    leak_max = leak.agg(F.max("ns").alias("max_splits_per_cluster"))
    per = assigned.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("cluster").alias("n_clusters"),
    )
    return per.crossJoin(F.broadcast(leak_max)).orderBy("split")


def _leakage_split_sql(threshold: float = 0.12, max_df: int = 1000) -> str:
    return (
        _SHINGLES_SQL
        + f""",
    shh AS (SELECT doc_id,
                   CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT)
                     AS shingle
            FROM sh),
    keep AS (SELECT shingle FROM shh GROUP BY shingle
             HAVING COUNT(*) <= {max_df}),
    sh2 AS (SELECT doc_id, shingle FROM shh JOIN keep USING (shingle)),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh2 GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
      FROM sh2 a JOIN sh2 b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    prs AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter)
            >= {threshold}),
    edges AS (SELECT id_a AS a, id_b AS b FROM prs
              UNION SELECT id_b AS a, id_a AS b FROM prs),
    reach AS (
      WITH RECURSIVE r(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM r JOIN edges e ON r.b = e.a)
      SELECT * FROM r),
    comp AS (SELECT a AS id, LEAST(MIN(b), a) AS cluster
             FROM reach GROUP BY a),
    assigned AS (
      SELECT doc_id AS id,
             COALESCE(comp.cluster, doc_id) AS cluster,
             CASE WHEN CAST(concat('0x', substr(md5(concat('split0:',
                       CAST(COALESCE(comp.cluster, doc_id) AS VARCHAR))),
                       1, 15)) AS BIGINT) % 1000000 < 800000 THEN 'train'
                  WHEN CAST(concat('0x', substr(md5(concat('split0:',
                       CAST(COALESCE(comp.cluster, doc_id) AS VARCHAR))),
                       1, 15)) AS BIGINT) % 1000000 < 900000 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents LEFT JOIN comp ON comp.id = doc_id),
    leak AS (SELECT MAX(ns) AS max_splits_per_cluster FROM (
               SELECT cluster, COUNT(DISTINCT split) AS ns
               FROM assigned GROUP BY cluster))
    SELECT split, COUNT(*) AS n_docs,
           COUNT(DISTINCT cluster) AS n_clusters,
           (SELECT max_splits_per_cluster FROM leak)
             AS max_splits_per_cluster
    FROM assigned GROUP BY split ORDER BY split
    """
    )


def q_kv_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    # delimited key=value record expansion (semistructured.kv_records)
    # — the log-parsing primitive, pure Column expressions
    from det_module_spark.operators.semistructured import kv_records

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") < 2000
    )
    rec = orders.select(
        "o_orderkey",
        F.concat(
            F.lit("prio="),
            F.col("o_orderpriority"),
            F.lit(",status="),
            F.col("o_orderstatus"),
        ).alias("s"),
    )
    return (
        kv_records(rec, "s")
        .select("o_orderkey", "k", "v")
        .orderBy("o_orderkey", "k")
    )


_KV_RECORDS_SQL = """
    WITH t AS (SELECT o_orderkey,
                      concat('prio=', o_orderpriority,
                             ',status=', o_orderstatus) AS s
               FROM orders WHERE o_orderkey < 2000),
    e AS (SELECT o_orderkey, unnest(string_split(s, ',')) AS p FROM t)
    SELECT o_orderkey,
           substring(p, 1, instr(p, '=') - 1) AS k,
           substring(p, instr(p, '=') + 1) AS v
    FROM e WHERE instr(p, '=') > 0
    ORDER BY o_orderkey, k
"""


def q_asof_forward_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    # forward as-of with tolerance (operators/asof.asof_join
    # direction="forward"): for every click, the NEXT purchase by the
    # same user, nulled when it is more than 2 hours away — pandas
    # merge_asof semantics, same single-shuffle carry-window plan
    ev = _events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    out = asof_join(
        clicks,
        purchases,
        key="user_id",
        ts="ts",
        value_cols=["value"],
        direction="forward",
        tolerance_seconds=7200,
    )
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        F.date_format("asof_ts", "yyyy-MM-dd HH:mm:ss").alias(
            "purchase_ts"
        ),
        _pround(F.col("asof_value"), 6).alias("purchase_value"),
    )


_ASOF_FORWARD_SQL = """
    WITH clicks AS (SELECT event_id, user_id, ts FROM events
                    WHERE event_type = 'click'),
    purchases AS (SELECT user_id, ts, MAX(value) AS value FROM events
                  WHERE event_type = 'purchase' GROUP BY user_id, ts),
    m AS (
      SELECT c.event_id, c.user_id, c.ts AS cts, v.ts AS vts, v.value,
             (v.ts IS NOT NULL
              AND epoch_us(v.ts) - epoch_us(c.ts) <= 7200000000) AS ok
      FROM clicks c
      ASOF LEFT JOIN purchases v
        ON c.user_id = v.user_id AND c.ts <= v.ts)
    SELECT event_id, user_id,
           strftime(cts, '%Y-%m-%d %H:%M:%S') AS click_ts,
           CASE WHEN ok THEN strftime(vts, '%Y-%m-%d %H:%M:%S') END
             AS purchase_ts,
           CASE WHEN ok THEN FLOOR(value * 1e6 + 0.5) / 1e6 END
             AS purchase_value
    FROM m
"""


_LPA_EDGES_SQL = """SELECT DISTINCT o_custkey AS src, l_suppkey AS dst
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           WHERE o_orderkey < 5000"""


def q_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    # synchronized label-propagation communities over the customer-
    # supplier graph (graph.label_propagation): 3 deterministic
    # rounds, argmax by (count desc, label asc) — oracle unrolls the
    # identical rounds as CTEs
    from det_module_spark.operators.graph import label_propagation

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    edges = (
        orders.filter(F.col("o_orderkey") < 5000)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"), F.col("l_suppkey").alias("dst")
        )
        .distinct()
    )
    return label_propagation(edges, rounds=3).orderBy("id")


def q_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    # end-to-end entity resolution: SymSpell fuzzy match (edit
    # distance <= 1 on customer names) -> connected components ->
    # survivorship (golden record = highest balance, ties to lowest
    # key). Composition of three oracled stages; output = one golden
    # record per MERGED entity (cluster_size >= 2).
    from det_module_spark.operators.fuzzyjoin import edit1_pairs
    from det_module_spark.operators.graph import cluster_representatives

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    pairs = edit1_pairs(
        cust.select("c_custkey", "c_name"), "c_custkey", "c_name"
    )
    quality = cust.select(
        F.col("c_custkey").alias("id"),
        F.expr("CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)").alias(
            "score"
        ),
    )
    return (
        cluster_representatives(pairs.select("id_a", "id_b"), quality)
        .filter(F.col("cluster_size") >= 2)
        .orderBy("cluster")
    )


_ENTITY_RESOLUTION_SQL = """
    WITH pairs AS (
      SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
      FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
      WHERE levenshtein(a.c_name, b.c_name) <= 1),
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b AS a, id_a AS b FROM pairs),
    reach AS (
      WITH RECURSIVE r(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM r JOIN edges e ON r.b = e.a)
      SELECT * FROM r),
    comp AS (SELECT a AS id, LEAST(MIN(b), a) AS cluster
             FROM reach GROUP BY a),
    q AS (SELECT c_custkey AS id,
                 CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS score
          FROM customer),
    total AS (SELECT q.id, q.score, COALESCE(comp.cluster, q.id) AS cluster
              FROM q LEFT JOIN comp ON comp.id = q.id),
    ranked AS (SELECT cluster, id, score,
                      ROW_NUMBER() OVER (PARTITION BY cluster
                                         ORDER BY score DESC, id ASC) AS rn,
                      COUNT(*) OVER (PARTITION BY cluster) AS cluster_size
               FROM total)
    SELECT cluster, id AS rep_id, score AS rep_score, cluster_size
    FROM ranked WHERE rn = 1 AND cluster_size >= 2
    ORDER BY cluster
"""


def q_sample_k_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    # balanced eval-set construction: exactly 3 docs per (lang,
    # source) cell, hash-ranked inside one partitioned window —
    # deterministic on any partitioning, no global sort
    from det_module_spark.operators.sampling import sample_k_per_group

    docs = load_table(spark, sf_dir, "documents")
    return sample_k_per_group(
        docs.select("doc_id", "lang", "source"),
        F.col("doc_id"),
        by=["lang", "source"],
        k=3,
    ).orderBy("lang", "source", "sample_rank")


_SAMPLE_K_SQL = """
    WITH h AS (
      SELECT doc_id, lang, source,
             CAST(concat('0x',
               substr(md5(concat('k0:', CAST(doc_id AS VARCHAR))), 1, 15))
               AS BIGINT) % 1000000 AS b
      FROM documents),
    r AS (SELECT doc_id, lang, source,
                 CAST(ROW_NUMBER() OVER (PARTITION BY lang, source
                                         ORDER BY b, doc_id) AS INT)
                   AS sample_rank
          FROM h)
    SELECT doc_id, lang, source, sample_rank
    FROM r WHERE sample_rank <= 3
    ORDER BY lang, source, sample_rank
"""


def q_events_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL streaming dropDuplicatesWithinWatermark replay
    # (streaming/replay.replay_dedup): events get retry copies with a
    # fresh timestamp — +24h (inside the 48h horizon: must be
    # deduped) and +72h (outside: re-emitted once state expires, or
    # late-dropped) — two batches later. Four time-quartile batches
    # since round 6 (was six sextiles): the probe re-verified the
    # closed form batch-for-batch at both SFs before the cut, and all
    # three semantic classes (dedup, late-drop, re-emission) still
    # exercise. The oracle closes the form:
    # with unique keys and one retry each, emitted = originals +
    # retries that are neither late (ts_ms > wm planned for their
    # batch) nor covered by live state (orig_ts_ms + delay > same
    # wm). Probed semantics documented on replay_dedup.
    from det_module_spark.streaming.replay import replay_dedup

    ev = _events(spark, sf_dir).select("event_id", "ts", "value")
    b = ev.agg(
        F.min(F.unix_timestamp("ts")).alias("mn"),
        F.max(F.unix_timestamp("ts")).alias("mx"),
    ).collect()[0]
    mn, span1 = b["mn"], b["mx"] - b["mn"] + 1
    batch = F.expr(
        f"CAST(((unix_timestamp(ts) - {mn}) * 4) div {span1} AS INT)"
    )
    orig = ev.select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias("cents"),
        batch.alias("batch"),
    )
    eid = F.col("event_id")

    def retry(hours: int, mod_in: int, mod_out: int) -> DataFrame:
        return orig.filter(
            (eid % mod_in == 0)
            & (eid % mod_out != 0)
            & (F.col("batch") <= 1)
        ).select(
            "event_id",
            F.expr(f"ts + INTERVAL {hours} HOURS").alias("ts"),
            "cents",
            (F.col("batch") + 2).cast("int").alias("batch"),
        )

    staged = orig.unionByName(retry(24, 37, 41)).unionByName(
        retry(72, 41, 37)
    )
    out = replay_dedup(
        staged, "batch", keys=["event_id"], watermark="48 hours"
    )
    return out.select(
        "event_id", F.unix_millis("ts").alias("ts_ms"), "cents"
    )


_EVENTS_DEDUP_STREAM_SQL = """
    WITH base AS (
      SELECT event_id,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_s,
             epoch_us(ts) AS ts_us
      FROM events),
    bounds AS (SELECT MIN(ts_s) AS mn,
                      MAX(ts_s) - MIN(ts_s) + 1 AS span1
               FROM base),
    orig AS (SELECT event_id, ts_us, cents,
                    CAST(((ts_s - mn) * 4) // span1 AS BIGINT) AS batch
             FROM base, bounds),
    reps AS (
      SELECT event_id, ts_us + 86400000000 AS ts_us, cents,
             batch + 2 AS batch
      FROM orig
      WHERE event_id % 37 = 0 AND event_id % 41 <> 0 AND batch <= 1
      UNION ALL
      SELECT event_id, ts_us + 259200000000, cents, batch + 2
      FROM orig
      WHERE event_id % 41 = 0 AND event_id % 37 <> 0 AND batch <= 1),
    staged AS (
      SELECT event_id, ts_us, cents, batch, FALSE AS is_rep FROM orig
      UNION ALL
      SELECT event_id, ts_us, cents, batch, TRUE FROM reps),
    bmax AS (SELECT batch, MAX(ts_us // 1000) AS bmax_ms
             FROM staged GROUP BY batch),
    wm AS (SELECT batch,
                  MAX(bmax_ms) OVER (ORDER BY batch
                                     ROWS UNBOUNDED PRECEDING)
                    - 172800000 AS wm_ms
           FROM bmax),
    -- late filter for batch b: keep iff ts_ms STRICTLY ABOVE the
    -- watermark planned for b (stats through b-2); state for a key is
    -- live at batch b iff its first-accepted ts + delay is above the
    -- SAME boundary (the previous eviction used it non-strictly)
    keep_orig AS (
      SELECT o.event_id, o.ts_us, o.cents
      FROM (SELECT * FROM staged WHERE NOT is_rep) o
      LEFT JOIN wm ON wm.batch = o.batch - 2
      WHERE wm.wm_ms IS NULL OR o.ts_us // 1000 > wm.wm_ms),
    keep_rep AS (
      SELECT r.event_id, r.ts_us, r.cents
      FROM (SELECT * FROM staged WHERE is_rep) r
      JOIN orig o ON o.event_id = r.event_id
      JOIN wm ON wm.batch = r.batch - 2
      WHERE r.ts_us // 1000 > wm.wm_ms
        AND o.ts_us // 1000 + 172800000 <= wm.wm_ms)
    SELECT event_id, ts_us // 1000 AS ts_ms, cents FROM keep_orig
    UNION ALL
    SELECT event_id, ts_us // 1000, cents FROM keep_rep
"""


def q_tokenizer_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fit-then-encode composition: learn 4 BPE merges on the vocab,
    # apply them to EVERY document as chained replaces (codegen, no
    # Python), report per-source compression — the evaluation loop of
    # tokenizer training, end-to-end and hash-checked
    from det_module_spark.operators.bpe import bpe_encode, bpe_merges

    docs = load_table(spark, sf_dir, "documents")
    fit = bpe_merges(docs, n_merges=4, max_words=100)
    merges = [
        (r["left"], r["right"]) for r in fit.orderBy("round").collect()
    ]
    enc = bpe_encode(docs, merges)
    sub = F.sum("n_subwords")
    chars = F.sum(F.length("text"))
    return (
        enc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            sub.alias("sum_subwords"),
            chars.alias("sum_chars"),
            _pround(
                chars.cast("double") / sub, 6
            ).alias("chars_per_subword"),
        )
        .orderBy("source")
    )


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    # distributed BPE tokenizer fit (operators/bpe.bpe_merges): the
    # corpus collapses to a word-type vocab in ONE aggregation, then
    # each merge round is a bounded agg over the vocab — corpus-size-
    # independent rounds, the scalable shape of tokenizer training.
    # The oracle replays all 8 rounds (materialized CTE chain).
    from det_module_spark.operators.bpe import bpe_merges

    docs = load_table(spark, sf_dir, "documents")
    return bpe_merges(docs, n_merges=8, max_words=200)


def q_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    # output-layout planning (layout.shard_plan): pack each source's
    # documents (doc_id order) into ~32 KB shards by exclusive prefix
    # sum of n_chars — one PARTITIONED window per source, shard
    # namespace (source, shard)
    from det_module_spark.operators.layout import shard_plan

    docs = load_table(spark, sf_dir, "documents")
    return shard_plan(
        docs, "n_chars", "doc_id", 32_768, by=["source"]
    ).orderBy("source", "shard")


def q_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    # α=0.5 temperature rebalancing (sampling.temperature_rates):
    # per-source rates derived FROM the observed counts (integer-exact
    # sqrt weighting), materialized by the deterministic
    # explode+hash-filter mixture — small sources repeat, the biggest
    # source thins, total stays ≈ the corpus size
    from det_module_spark.operators.sampling import (
        apply_mixture,
        temperature_rates,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    counts = {
        r["source"]: r["n"]
        for r in docs.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    rates = temperature_rates(counts, budget_rows=sum(counts.values()))
    out = apply_mixture(
        docs, F.col("doc_id"), F.col("source"), rates, default_rate=0.0
    )
    return out.select("doc_id", "source", "copy")


def q_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    # dedup policy layer (graph.cluster_representatives): connected
    # components over the near-dup pair graph, keep the LONGEST doc
    # (token count, ties to lowest id) per cluster — one argmax hash
    # agg over the component assignment, no window
    from det_module_spark.operators.dedup import ngram_jaccard_pairs
    from det_module_spark.operators.graph import cluster_representatives

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.12)
    quality = docs.select(
        F.col("doc_id").alias("id"),
        F.size(F.split(F.col("text"), " ")).cast("long").alias("score"),
    )
    return cluster_representatives(
        pairs, quality, id_col="id", score_col="score"
    ).orderBy("cluster")


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    # contrastive hard-negative mining (similarity.hard_negatives):
    # per anchor, the top-3 most-similar embeddings with a DIFFERENT
    # label — broadcast anchors, corpus streams, label filter below
    # the rank window
    from det_module_spark.operators.similarity import hard_negatives

    emb = load_table(spark, sf_dir, "embeddings")
    out = hard_negatives(emb, k=3, anchors=emb.filter(F.col("vec_id") < 40))
    return out.select(
        "anchor_id",
        "rank",
        "negative_id",
        "neg_label",
        _pround(F.col("cos"), 6).alias("cos"),
    )


def q_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # asymmetric n-gram containment (operators/dedup.containment_pairs):
    # catches "small doc pasted inside big doc" partial duplicates that
    # Jaccard's union term dilutes below threshold; same shingle
    # inverted-index join as dedup_ngram_jaccard, so the marginal cost
    # of the second metric is one projection
    from det_module_spark.operators.dedup import containment_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = containment_pairs(docs, n=3, threshold=0.3)
    return pairs.select(
        "id_a",
        "id_b",
        _pround(F.col("cont_a_in_b"), 6).alias("cont_a_in_b"),
        _pround(F.col("cont_b_in_a"), 6).alias("cont_b_in_a"),
    )


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    # KMV bottom-k distinct sketch (operators/sketch.kmv_distinct):
    # mergeable, partition-independent, md5-hash-deterministic — the
    # oracle replays the sketch INCLUDING its estimation error; the
    # exact countDistinct column sits alongside to expose that error
    from det_module_spark.operators.sketch import kmv_distinct

    li = load_table(spark, sf_dir, "lineitem")
    est = kmv_distinct(li, F.col("l_partkey"), k=64, by=["l_returnflag"])
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("exact_distinct")
    )
    return est.join(exact, "l_returnflag").orderBy("l_returnflag")


def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # duplicated-substring spans (tile relaxation of suffix-array span
    # dedup): disjoint 24-char tiles, a tile is duplicated when its
    # exact text occurs >= 2x corpus-wide; per-doc dup tile count,
    # longest contiguous dup run, and exact-integer ppm fraction
    from det_module_spark.operators.spandedup import span_dedup_report

    docs = load_table(spark, sf_dir, "documents")
    return span_dedup_report(docs, tile=24).orderBy("doc_id")


_SPAN_DEDUP_SQL = """
    WITH tiles AS (
      SELECT doc_id, tile_id,
             substring(text, CAST(tile_id * 24 + 1 AS INT), 24) AS tile_text
      FROM documents,
           LATERAL UNNEST(range((length(text) - length(text) % 24) // 24))
             AS t(tile_id)),
    dup_texts AS (
      SELECT tile_text FROM tiles GROUP BY tile_text HAVING COUNT(*) >= 2),
    dup AS (
      SELECT doc_id, tile_id,
             tile_id - ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY tile_id) AS grp
      FROM tiles SEMI JOIN dup_texts USING (tile_text)),
    runs AS (
      SELECT doc_id, grp, COUNT(*) AS run_len FROM dup GROUP BY doc_id, grp),
    per_doc AS (
      SELECT doc_id, SUM(run_len) AS n_dup_tiles,
             MAX(run_len) AS longest_dup_run
      FROM runs GROUP BY doc_id),
    totals AS (
      SELECT doc_id, COUNT(*) AS n_tiles FROM tiles GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(COALESCE(t.n_tiles, 0) AS BIGINT) AS n_tiles,
           CAST(COALESCE(p.n_dup_tiles, 0) AS BIGINT) AS n_dup_tiles,
           CAST(COALESCE(p.longest_dup_run, 0) AS BIGINT) AS longest_dup_run,
           CAST(CASE WHEN COALESCE(t.n_tiles, 0) > 0
                THEN (COALESCE(p.n_dup_tiles, 0) * 1000000
                      - (COALESCE(p.n_dup_tiles, 0) * 1000000)
                        % t.n_tiles) // t.n_tiles
                ELSE 0 END AS BIGINT) AS dup_ppm
    FROM documents d
    LEFT JOIN totals t USING (doc_id)
    LEFT JOIN per_doc p USING (doc_id)
    ORDER BY d.doc_id
"""


def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    out = tfidf_top_terms(docs, k=3)
    return out.select(
        "doc_id", "rank", "term", _pround(F.col("score"), 6).alias("score")
    )


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sliding context windows (32-token window, stride 24) — the
    # chunking stage of an LLM pretraining pipeline
    from det_module_spark.operators.chunking import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    out = chunk_documents(docs, window=32, stride=24)
    return out.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.col("chunk_tokens").cast("long").alias("chunk_tokens"),
        "chunk_text",
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    # concat-then-chunk packing plan: 256-token bins per language shard
    from det_module_spark.operators.chunking import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    out = pack_sequences(docs, budget=256, part_col="lang")
    return out.select(
        "lang",
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("cum_before").cast("long").alias("cum_before"),
        "bin_start",
        "bin_end",
        F.col("bin_offset").cast("long").alias("bin_offset"),
    )


def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 10% deterministic content-hash sample (partitioning-independent)
    from det_module_spark.operators.sampling import hash_sample

    docs = load_table(spark, sf_dir, "documents")
    return hash_sample(docs, F.col("doc_id"), 0.1).select(
        "doc_id", "lang", "source"
    )


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    # language rebalancing: downsample en hard, keep fr fully
    from det_module_spark.operators.sampling import stratified_hash_sample

    docs = load_table(spark, sf_dir, "documents")
    out = stratified_hash_sample(
        docs,
        F.col("doc_id"),
        F.col("lang"),
        {"en": 0.05, "fr": 1.0, "de": 0.5},
        default_fraction=0.2,
    )
    return out.select("doc_id", "lang", "source")


def q_term_doc_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    # vocabulary heavy-hitters: terms in >= 50 documents
    from det_module_spark.operators.text import term_doc_freq

    docs = load_table(spark, sf_dir, "documents")
    return term_doc_freq(docs, min_df=50)


def q_time_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    # hypertable-style gap filling: dense hourly series per event type
    # with LOCF-filled sums and gap markers
    from det_module_spark.operators.timefill import time_fill_locf

    ev = _events(spark, sf_dir)
    out = time_fill_locf(ev, unit="hour")
    return out.select(
        "event_type",
        F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        F.col("n_events").cast("long").alias("n_events"),
        "is_gap",
        "filled_value",
    )


def q_time_fill_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    # hypertable interpolate(): gaps filled by linear interpolation
    # between the surrounding observed buckets (LOCF's dual)
    from det_module_spark.operators.timefill import time_fill_linear

    ev = _events(spark, sf_dir)
    out = time_fill_linear(ev, unit="hour")
    return out.select(
        "event_type",
        F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        F.col("n_events").cast("long").alias("n_events"),
        "is_gap",
        "filled_value",
    )


_TIME_FILL_LINEAR_SQL = """
    WITH b AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket,
             COUNT(*) AS n_events,
             FLOOR(SUM(value) * 1e4 + 0.5) / 1e4 AS sum_value
      FROM events GROUP BY 1, 2),
    bounds AS (SELECT event_type, MIN(bucket) AS lo, MAX(bucket) AS hi
               FROM b GROUP BY 1),
    grid AS (SELECT event_type,
                    unnest(generate_series(lo, hi, INTERVAL 1 HOUR))
                      AS bucket
             FROM bounds),
    j AS (SELECT g.event_type, g.bucket, b.n_events, b.sum_value
          FROM grid g
          LEFT JOIN b ON b.event_type = g.event_type
                     AND b.bucket = g.bucket),
    anch AS (
      SELECT event_type, bucket, n_events, sum_value,
             epoch(bucket) AS e,
             last_value(sum_value IGNORE NULLS) OVER w_back AS prev_v,
             last_value(CASE WHEN n_events IS NOT NULL
                             THEN epoch(bucket) END IGNORE NULLS)
               OVER w_back AS prev_t,
             first_value(sum_value IGNORE NULLS) OVER w_ahead AS next_v,
             first_value(CASE WHEN n_events IS NOT NULL
                              THEN epoch(bucket) END IGNORE NULLS)
               OVER w_ahead AS next_t
      FROM j
      WINDOW w_back AS (PARTITION BY event_type ORDER BY bucket
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             w_ahead AS (PARTITION BY event_type ORDER BY bucket
                         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
    SELECT event_type,
           strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
           COALESCE(n_events, 0) AS n_events,
           CAST(n_events IS NULL AS INT) AS is_gap,
           FLOOR((CASE WHEN n_events IS NOT NULL THEN sum_value
                       ELSE prev_v + (next_v - prev_v) * (e - prev_t)
                            / (next_t - prev_t) END) * 1e4 + 0.5) / 1e4
             AS filled_value
    FROM anch
"""


def q_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-source duplication report over the exact-dedup groups: how
    # many docs, how many survive, duplicate fraction (integer bps)
    docs = load_table(spark, sf_dir, "documents")
    key = F.md5(F.substring("text", 1, 24))
    keyed = docs.select(F.col("source"), key.alias("content_key"))
    groups = keyed.groupBy("source", "content_key").agg(
        F.count(F.lit(1)).alias("n")
    )
    return groups.groupBy("source").agg(
        F.sum("n").alias("n_docs"),
        F.count(F.lit(1)).alias("n_unique"),
        # basis points as integers: exact in every engine
        F.floor(
            (F.sum("n") - F.count(F.lit(1))) * 10000 / F.sum("n")
        ).cast("long").alias("dup_bps"),
    )


def q_argmax_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    # arg-max via struct max: per customer, the most expensive order.
    # Ties (same price) break to the SMALLEST order key via the negated
    # key in the comparator — deterministic, unlike bare max_by
    orders = load_table(spark, sf_dir, "orders")
    best = orders.groupBy("o_custkey").agg(
        F.max(
            F.struct(F.col("o_totalprice"), (-F.col("o_orderkey")).alias("nk"))
        ).alias("b")
    )
    return best.select(
        "o_custkey",
        F.col("b.o_totalprice").alias("best_price"),
        (-F.col("b.nk")).alias("best_order"),
    )


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # PII-style scrubbing: mask digit runs in the raw props payload
    # (regexp_replace is all-occurrences in both engines)
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    return ev.select(
        "event_id",
        F.regexp_replace(F.col("props"), "[0-9]+", "<NUM>").alias("props_clean"),
    )


def q_rolling_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    # trailing 1-hour event-time window per type: RANGE frame over
    # epoch seconds (time-based, not row-based — frame contents are
    # partition-order-independent, so cross-engine exact)
    from pyspark.sql import Window

    ev = _events(spark, sf_dir).filter(F.col("event_id") < 3000)
    sec = F.unix_timestamp("ts")
    w = (
        Window.partitionBy("event_type")
        .orderBy(sec)
        .rangeBetween(-3600, 0)
    )
    return ev.select(
        "event_id",
        "event_type",
        F.count(F.lit(1)).over(w).alias("n_trailing_1h"),
        _pround(F.sum("value").over(w), 4).alias("sum_trailing_1h"),
    )


def q_approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sketch path: HLL distinct + GK quantiles in ONE pass over
    # lineitem. At 100 TB these replace exact shuffles of distinct
    # values with fixed-size mergeable sketch state. Oracle-able
    # (VERDICT r01 #4): HLL register-merge is max() — partition-order
    # independent, so its output is a deterministic function of the
    # data set, pinned as per-SF goldens in the oracle. The GK summary
    # at accuracy 1e6 has rank error eps*n < 1 at every value-checked
    # SF; quantiling l_quantity (50 distinct values, runs of ~n/50
    # equal elements) absorbs the residual ±1-rank slack of the
    # partition-summary merge, so the estimate EQUALS the exact order
    # statistic at rank ceil(p*n), which the oracle selects directly.
    # Relative-error behavior at sketch-sized accuracy stays covered
    # by tests/test_skew_approx.py.
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.approx_count_distinct("l_partkey").alias("nd_partkey"),
        F.approx_count_distinct("l_suppkey").alias("nd_suppkey"),
        F.percentile_approx(
            "l_quantity", [0.5, 0.95, 0.99], 1000000
        ).alias("pq"),
    ).select(
        "nd_partkey",
        "nd_suppkey",
        F.element_at("pq", 1).alias("qty_p50"),
        F.element_at("pq", 2).alias("qty_p95"),
        F.element_at("pq", 3).alias("qty_p99"),
    )


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # benchmark decontamination: every 50th document plays the eval
    # set; report per-corpus-doc trigram overlap against it. The
    # benchmark shingle vocabulary is broadcast — no corpus-sized
    # shuffle of shingles at any scale.
    from det_module_spark.operators.decontaminate import contamination_report

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    return contamination_report(corpus, bench, n=3)


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Gopher-style repetition signals: duplicate-trigram fraction +
    # top-token dominance per document
    from det_module_spark.operators.text import repetition_features

    return repetition_features(load_table(spark, sf_dir, "documents"))


def q_histogram_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fixed-width histogram: one hash agg, bin count independent of
    # row count (map-side partials do the work inside the scan)
    from det_module_spark.operators.profile import histogram

    li = load_table(spark, sf_dir, "lineitem")
    return histogram(li, "l_extendedprice", 5000.0)


def q_corr_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Pearson corr + sample covariance from EXACT integer moments
    # (quantity is integer-valued; discount quantized to percent) —
    # bit-identical across engines/partition orders, unlike F.corr
    from det_module_spark.operators.profile import grouped_corr_exact

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("long").alias("qty"),
        F.floor(F.col("l_discount") * 100 + F.lit(0.5))
        .cast("long")
        .alias("disc"),
    )
    return grouped_corr_exact(li, "l_returnflag", "qty", "disc")


def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Morton (Z-order) clustering key over two dimension columns —
    # the write-time layout step that makes parquet min/max stats
    # prune 2-D range predicates at 100 TB
    from det_module_spark.operators.layout import morton_key

    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 2000)
    x = F.col("l_partkey") % 4096
    y = F.col("l_suppkey") % 4096
    return li.select(
        "l_orderkey",
        "l_linenumber",
        x.alias("x"),
        y.alias("y"),
        morton_key(x, y).alias("zkey"),
    )


def _cents(col: str):
    # exact integer cents (float-parity playbook #4)
    return F.floor(F.col(col) * 100 + F.lit(0.5)).cast("long")


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q1 pricing summary. Money in integer cents: disc_price =
    # price_c*(100-disc_pct) is exact in units of 1e-4 dollars, so the
    # sums are order-independent; averages divide the exact sums.
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02")
    )
    pc, dp, tp = (
        _cents("l_extendedprice"),
        _cents("l_discount"),  # discount in basis points /100 = pct
        _cents("l_tax"),
    )
    q = F.col("l_quantity").cast("long")
    base = li.select(
        "l_returnflag",
        "l_linestatus",
        q.alias("qty"),
        pc.alias("price_c"),
        (pc * (F.lit(100) - dp)).alias("disc_c4"),
        (pc * (F.lit(100) - dp) * (F.lit(100) + tp)).alias("charge_c6"),
        dp.alias("disc_pct"),
    )
    g = base.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("qty").alias("sum_qty"),
        F.sum("price_c").alias("sum_base_price_c"),
        F.sum("disc_c4").alias("sum_disc_price_c4"),
        F.sum("charge_c6").alias("sum_charge_c6"),
        F.count(F.lit(1)).alias("count_order"),
        F.sum("disc_pct").alias("sum_disc_pct"),
    )
    return g.select(
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        "sum_base_price_c",
        "sum_disc_price_c4",
        "sum_charge_c6",
        (F.col("sum_qty").cast("double") / F.col("count_order")).alias("avg_qty"),
        (F.col("sum_base_price_c").cast("double") / F.col("count_order")).alias(
            "avg_price_c"
        ),
        (F.col("sum_disc_pct").cast("double") / F.col("count_order")).alias(
            "avg_disc_pct"
        ),
        "count_order",
    )


def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q3 shipping priority: 3-way join, revenue top-10 with a
    # total order (revenue desc, orderdate, orderkey)
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15")
    )
    rev = (_cents("l_extendedprice") * (F.lit(100) - _cents("l_discount"))).alias(
        "rev_c4"
    )
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select("l_orderkey", rev, "o_orderdate", "o_orderpriority")
    )
    return (
        j.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum("rev_c4").alias("revenue_c4"))
        .select(
            "l_orderkey",
            "revenue_c4",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue_c4"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q5 local-supplier volume: 6-way join with two broadcast
    # dims and co-located customer/supplier nation equality
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1993-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    rev = (_cents("l_extendedprice") * (F.lit(100) - _cents("l_discount"))).alias(
        "rev_c4"
    )
    j = (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(F.col("n_name"), rev)
    )
    return (
        j.groupBy("n_name")
        .agg(F.sum("rev_c4").alias("revenue_c4"))
        .orderBy(F.desc("revenue_c4"), "n_name")
    )


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    # term -> sorted posting list; serialized to CSV text so the
    # cross-engine value hash sees a scalar, not an array object
    from det_module_spark.operators.text import build_inverted_index

    idx = build_inverted_index(load_table(spark, sf_dir, "documents"))
    return idx.select(
        "term",
        F.concat_ws(",", F.col("postings")).alias("postings"),
        "doc_freq",
    )


def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    # perplexity-proxy quality scores: mean unigram log-prob under the
    # corpus's own unigram LM (rounded — float-sum accumulation order)
    from det_module_spark.operators.text import unigram_logprob

    out = unigram_logprob(load_table(spark, sf_dir, "documents"))
    return out.select(
        "doc_id", "n_tokens", _pround(F.col("mean_logprob"), 6).alias("mean_logprob")
    )


def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CDC upsert/delete apply: last-writer-wins by sequence number
    # (order keys as the log offsets), deterministic on any engine
    from det_module_spark.operators.scd import cdc_apply

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5))
        .cast("long")
        .alias("bal_cents"),
    )
    changes = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") < 2000
    ).select(
        F.col("o_custkey").alias("c_custkey"),
        F.col("o_orderkey").alias("seq"),
        F.when(F.col("o_orderstatus") == "F", "U")
        .when(F.col("o_orderstatus") == "O", "I")
        .otherwise("D")
        .alias("op"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("bal_cents"),
    )
    return cdc_apply(cust, changes, "c_custkey", ["bal_cents"])


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SCD Type-2 dimension versioning: every attribute change opens a new
    # validity interval; order date + order key give the total order
    from det_module_spark.operators.scd import scd2_history

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("segment")
    )
    upd = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") < 2000
    ).select(
        F.col("o_custkey").alias("c_custkey"),
        F.col("o_orderpriority").alias("segment"),
        F.col("o_orderdate").alias("ts"),
        F.col("o_orderkey").alias("seq"),
    )
    hist = scd2_history(cust, upd, "c_custkey", "segment", ts="ts", seq="seq")
    return hist.select(
        "c_custkey",
        "segment",
        F.date_format("valid_from", "yyyy-MM-dd").alias("valid_from"),
        F.date_format("valid_to", "yyyy-MM-dd").alias("valid_to"),
        "is_current",
    )


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    # iterative algorithm showcase: 3 fixed-point PageRank rounds over
    # the customer->supplier graph (edges via orders⋈lineitem). All
    # integer arithmetic -> bit-identical to the oracle's unrolled CTEs
    from det_module_spark.operators.graph import pagerank

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") < 5000
    )
    li = load_table(spark, sf_dir, "lineitem")
    edges = orders.join(li, orders.o_orderkey == li.l_orderkey).select(
        F.col("o_custkey").alias("src"), F.col("l_suppkey").alias("dst")
    )
    return pagerank(edges, iterations=3)


def q_impute_group_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    # group-mean imputation: nulls (synthesized on line 3 of every
    # order) filled with the per-returnflag mean of observed values.
    # Integer-valued measure -> exact window sums -> engine-exact fill
    from det_module_spark.operators.cleaning import impute_group_mean

    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 3000)
    li = li.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        F.when(F.col("l_linenumber") == 3, None)
        .otherwise(F.col("l_quantity"))
        .alias("qty"),
    )
    return impute_group_mean(li, "qty", "l_returnflag", out="qty_filled")


def q_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-type z-scores from exact integer moments (value quantized to
    # cents); deterministic flag at |z| > 2.5
    from det_module_spark.operators.cleaning import zscore_outliers

    ev = _events(spark, sf_dir).filter(F.col("event_id") < 5000)
    ev = ev.select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v100"),
    )
    return zscore_outliers(ev, "v100", "event_type", threshold=2.5)


def q_pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    # dynamic long->wide pivot with an explicit value list (no extra
    # distinct-values job, stable output schema at any scale)
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    orders = load_table(spark, sf_dir, "orders")
    wide = (
        orders.groupBy("o_orderstatus")
        .pivot("o_orderpriority", prios)
        .agg(F.count(F.lit(1)))
    )
    # absent combinations: pivot yields null, the oracle's FILTER
    # count yields 0 — canonicalize to 0
    return wide.select(
        "o_orderstatus",
        *[F.coalesce(F.col(f"`{p}`"), F.lit(0)).alias(p) for p in prios],
    )


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # training-data mixing: oversample src0 2.5x, downsample src1 to
    # half, drop src2, pass everything else through — one deterministic
    # explode+filter, no shuffle, reproducible on any partitioning
    from det_module_spark.operators.sampling import apply_mixture

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return apply_mixture(
        docs,
        F.col("doc_id"),
        F.col("source"),
        {"src0": 2.5, "src1": 0.5, "src2": 0.0},
        default_rate=1.0,
    )


def q_quality_filter_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-source pass rates for the quality gate (length + repetition
    # + token dominance) — the go/no-go dashboard before training
    from det_module_spark.operators.text import repetition_features

    docs = load_table(spark, sf_dir, "documents")
    feats = repetition_features(docs).join(
        docs.select("doc_id", "source"), "doc_id"
    )
    pass_len = F.col("n_tokens").between(30, 5000)
    pass_rep = F.col("dup_gram_frac") < 0.1
    pass_dom = F.col("top_token_frac") < 0.12
    return feats.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(pass_len.cast("long")).alias("n_pass_len"),
        F.sum(pass_rep.cast("long")).alias("n_pass_rep"),
        F.sum(pass_dom.cast("long")).alias("n_pass_dom"),
        F.sum((pass_len & pass_rep & pass_dom).cast("long")).alias("n_pass_all"),
    )


def q_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    # wide -> long unpivot of the lineitem measure columns
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 200)
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "metric",
        "value",
    )


# ---------------------------------------------------------------------------
# Event-time windows (§2.10). Same builders run streaming with a
# watermark; here they run batch for the oracle gate.
# ---------------------------------------------------------------------------


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # hour-window alignment is timezone-relative; pin UTC for parity
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return load_table(spark, sf_dir, "events")


def q_events_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    # VERDICT r02 #8: REAL streaming late-data semantics, value-
    # checked. Events are assigned a deterministic micro-batch
    # schedule (four time-quartile batches since round 6 — the probe
    # re-verified the closed form at both SFs before cutting from six
    # sextiles; every 29th event arrives two batches late) and
    # replayed through an actual APPEND-mode
    # streaming query with a 2-hour watermark
    # (streaming/replay.replay_tumbling). The oracle models the exact
    # watermark trajectory — cummax of per-batch max event-time,
    # FLOORED TO MILLISECONDS as Spark's event-time stats are — and
    # reproduces both effects under test: late input dropped against
    # the watermark PLANNED for the batch (stats through batch b-2;
    # Spark's two-phase propagation — eviction at b's end uses stats
    # through b-1), and windows emitted only once the final watermark
    # passes their end. Values are exact (cents as int64), so the
    # driver hash-checks the whole behaviour, drop-for-drop.
    from det_module_spark.streaming.replay import replay_tumbling
    from det_module_spark.streaming.windows import flatten_window

    ev = _events(spark, sf_dir).select("event_id", "ts", "value")
    b = ev.agg(
        F.min(F.unix_timestamp("ts")).alias("mn"),
        F.max(F.unix_timestamp("ts")).alias("mx"),
    ).collect()[0]  # two scalars: the batch-boundary constants
    mn, span1 = b["mn"], b["mx"] - b["mn"] + 1
    nominal = F.expr(f"((unix_timestamp(ts) - {mn}) * 4) div {span1}")
    batch = (
        F.when(F.col("event_id") % 29 == 0, F.least(nominal + 2, F.lit(3)))
        .otherwise(nominal)
        .cast("int")
    )
    staged = ev.select(
        # watermarks need TIMESTAMP (ltz); session tz is pinned UTC so
        # the NTZ parquet values keep their wall-clock meaning
        F.col("ts").cast("timestamp").alias("ts"),
        F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias("cents"),
        batch.alias("batch"),
    )
    out = replay_tumbling(
        staged, "batch", "1 hour", watermark="2 hours",
        ts_col="ts", key_col=None, value_col="cents",
    )
    return flatten_window(out).select(
        "window_start",
        "window_end",
        "n_events",
        F.col("sum_value").alias("sum_cents"),
    )


_EVENTS_WATERMARK_SQL = """
    WITH base AS (
      SELECT event_id, ts,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_s,
             epoch_us(ts) AS ts_us
      FROM events),
    bounds AS (SELECT MIN(ts_s) AS mn,
                      MAX(ts_s) - MIN(ts_s) + 1 AS span1
               FROM base),
    batched AS (
      SELECT ts, cents, ts_us,
             CASE WHEN event_id % 29 = 0
                  THEN LEAST(((ts_s - mn) * 4) // span1 + 2, 3)
                  ELSE ((ts_s - mn) * 4) // span1 END AS batch
      FROM base, bounds),
    bmax AS (SELECT batch, MAX(ts_us // 1000) AS bmax_ms
             FROM batched GROUP BY batch),
    wm AS (SELECT batch,
                  MAX(bmax_ms) OVER (ORDER BY batch
                                     ROWS UNBOUNDED PRECEDING)
                    - 7200000 AS wm_after_ms
           FROM bmax),
    kept AS (
      -- late-input filtering in micro-batch b uses the watermark
      -- PLANNED for b (stats through batch b-2); eviction/emission at
      -- b's end uses the updated watermark (through b-1). The lag
      -- keeps filter == previous eviction boundary, so a late row can
      -- never land in an already-emitted window
      SELECT b.ts, b.cents,
             epoch_us(date_trunc('hour', b.ts) + INTERVAL 1 HOUR)
               AS w_end_us
      FROM batched b LEFT JOIN wm ON wm.batch = b.batch - 2
      WHERE wm.wm_after_ms IS NULL
         OR epoch_us(date_trunc('hour', b.ts) + INTERVAL 1 HOUR)
              > wm.wm_after_ms * 1000),
    final AS (SELECT MAX(wm_after_ms) AS wm_final_ms FROM wm)
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
             AS window_start,
           strftime(date_trunc('hour', ts) + INTERVAL 1 HOUR,
                    '%Y-%m-%d %H:%M:%S') AS window_end,
           COUNT(*) AS n_events,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM kept
    GROUP BY 1, 2, w_end_us
    HAVING w_end_us <= (SELECT wm_final_ms FROM final) * 1000
"""


def q_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # day-level aggregate derived from hour-level partials (continuous
    # aggregate pattern) — must equal aggregating raw events directly
    from det_module_spark.operators.rollup_time import (
        finalize,
        rollup_from_partials,
        time_rollup,
    )

    ev = _events(spark, sf_dir)
    hourly = time_rollup(ev, "hour")
    daily = finalize(rollup_from_partials(hourly, "day"))
    # mean derived from the ROUNDED sum: partial-cascade and direct
    # aggregation differ in float accumulation order, so dividing the
    # canonicalized sum keeps the mean bit-identical across engines
    return daily.select(
        F.date_format("bucket", "yyyy-MM-dd").alias("day"),
        "event_type",
        F.col("n").alias("n_events"),
        _pround(F.col("sum_v"), 4).alias("sum_value"),
        "min_v",
        "max_v",
        _pround(_pround(F.col("sum_v"), 4) / F.col("n"), 6).alias("mean_value"),
    )


def q_zonal_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # multi-percentile profile per feature (p25/p50/p75)
    cells = _cells(spark, sf_dir)
    return cells.groupBy("asdf_id").agg(
        F.percentile("value", F.lit(0.25)).alias("p25"),
        F.percentile("value", F.lit(0.5)).alias("p50"),
        F.percentile("value", F.lit(0.75)).alias("p75"),
    )


def q_queue_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    # F10: human-readable stage timeline with the '---' guard for
    # zero/invalid timestamps (documentation_tool.py:55-64)
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 1000)
    # synthesize an 'invalid' marker deterministically
    ts = F.when(F.col("o_orderkey") % 7 == 0, F.lit(None)).otherwise(
        F.col("o_orderdate")
    )
    return orders.select(
        "o_orderkey",
        F.coalesce(F.date_format(ts, "yyyy-MM-dd HH:mm:ss"), F.lit("---")).alias(
            "submit_stamp"
        ),
    )


def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one-pass per-column profiling of the customer table
    from det_module_spark.operators.profile import profile_table

    cust = load_table(spark, sf_dir, "customer")
    return profile_table(cust, ["c_custkey", "c_name", "c_nationkey", "c_mktsegment"])


def q_events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    # semi-structured column: parse the JSON props payload and
    # aggregate on an extracted field
    ev = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
    )


def q_text_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fuzzy matching primitives: levenshtein between consecutive doc
    # prefixes + a regexp extraction
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, 30).alias("head"), "text"
    )
    nxt = docs.select(
        (F.col("doc_id") - 1).alias("doc_id"), F.col("head").alias("next_head")
    )
    return (
        docs.join(nxt, "doc_id")
        .select(
            "doc_id",
            F.levenshtein("head", "next_head").alias("edit_dist"),
            F.regexp_extract("text", r"([a-z]+) ([a-z]+)", 2).alias(
                "second_word"
            ),
        )
    )


def q_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = flatten_window(tumbling_agg(_events(spark, sf_dir), "1 hour"))
    return out.select(
        "window_start", "window_end", "event_type", "n_events",
        _pround(F.col("sum_value"), 4).alias("sum_value"),
    )


def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = flatten_window(
        sliding_agg(_events(spark, sf_dir), "2 hours", "1 hour")
    )
    return out.select(
        "window_start", "window_end", "event_type", "n_events",
        _pround(F.col("sum_value"), 4).alias("sum_value"),
    )


def q_events_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = flatten_window(session_agg(_events(spark, sf_dir), "30 minutes"))
    return out.select(
        "window_start", "window_end", "user_id", "n_events",
        _pround(F.col("sum_value"), 4).alias("sum_value"),
    )


def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q6 forecast revenue: pure scan→filter→agg. At 100 TB this
    # is the pushdown benchmark — all predicates reach the parquet
    # reader, no shuffle, one partial+final aggregate.
    li = load_table(spark, sf_dir, "lineitem")
    dp = _cents("l_discount")
    sel = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
        & (F.col("l_quantity") < 24)
        & dp.between(5, 7)
    )
    return sel.agg(
        F.sum(_cents("l_extendedprice") * dp).alias("revenue_c4"),
        F.count(F.lit(1)).alias("n_lines"),
    )


def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q10 returned-item reporting: fact-fact shuffle join, then
    # dim joins (nation broadcast), top-20 under a total order
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    rev = (_cents("l_extendedprice") * (F.lit(100) - _cents("l_discount"))).alias(
        "rev_c4"
    )
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select(
            "c_custkey",
            "c_name",
            _cents("c_acctbal").alias("acctbal_c"),
            "n_name",
            rev,
        )
    )
    return (
        j.groupBy("c_custkey", "c_name", "acctbal_c", "n_name")
        .agg(F.sum("rev_c4").alias("revenue_c4"))
        .orderBy(F.desc("revenue_c4"), "c_custkey")
        .limit(20)
    )


def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q18 large-volume customers: HAVING-filtered aggregate as
    # the join build side (AQE sizes it at runtime; it shrinks to the
    # few hot orders, so the orders join is broadcastable in practice)
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"))
        .filter(F.col("sum_qty") > 300)
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    j = orders.join(big, orders.o_orderkey == big.l_orderkey).join(
        cust, orders.o_custkey == cust.c_custkey
    )
    return (
        j.select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            _cents("o_totalprice").alias("totalprice_c"),
            "sum_qty",
        )
        .orderBy(F.desc("totalprice_c"), "o_orderkey")
        .limit(100)
    )


def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # event-level sessionization (gap ≥ 30 min ⇒ new session): lag +
    # running conditional sum — the labeling dual of the session_window
    # aggregate (events_session). One shuffle keyed by user_id; at
    # scale the windows run per-user-partition with no driver state.
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    base = ev.select(
        "event_id", "user_id", F.unix_timestamp("ts").alias("ts_s")
    )
    w = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
    lagged = base.withColumn("prev_s", F.lag("ts_s").over(w))
    is_new = F.when(
        F.col("prev_s").isNull() | (F.col("ts_s") - F.col("prev_s") >= 1800), 1
    ).otherwise(0)
    return lagged.select(
        "event_id",
        "user_id",
        F.sum(is_new)
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("session_seq"),
    )


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cohort × day-offset retention matrix: first-seen day per user,
    # distinct active days, then distinct-user counts. The cohort
    # table is ≤ #users rows — broadcastable at any corpus scale.
    ev = _events(spark, sf_dir)
    d = F.to_date("ts")
    first = ev.groupBy("user_id").agg(F.min(d).alias("cohort_day"))
    active = ev.select("user_id", d.alias("day")).distinct()
    j = active.join(F.broadcast(first), "user_id")
    return (
        j.groupBy(
            "cohort_day", F.datediff("day", "cohort_day").alias("day_offset")
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
        .select(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            "day_offset",
            "n_users",
        )
    )


def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    # signup→purchase funnel per user: conditional-min first signup,
    # then earliest purchase at-or-after it. Two aggregations + one
    # join on user_id; no event-order assumptions, so exact on any
    # partitioning.
    ev = _events(spark, sf_dir)
    base = ev.select(
        "user_id", "event_type", F.unix_timestamp("ts").alias("ts_s")
    )
    sign = base.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts_s"))).alias(
            "signup_s"
        )
    )
    pur = (
        base.filter(F.col("event_type") == "purchase")
        .join(sign, "user_id")
        .filter(F.col("ts_s") >= F.col("signup_s"))
        .groupBy("user_id")
        .agg(F.min("ts_s").alias("first_purchase_s"))
    )
    return sign.join(pur, "user_id", "left").select(
        "user_id",
        "signup_s",
        "first_purchase_s",
        (F.col("first_purchase_s") - F.col("signup_s")).alias(
            "secs_to_convert"
        ),
    )


def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-key skew diagnostic for shuffle planning: row share of the
    # hottest join keys in parts-per-million (exact integer floor
    # division). The heavy-hitter list this emits is what a salting
    # pass (zonal_salted_mean) or an AQE skew split keys off.
    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("n_rows"))
    total = counts.agg(F.sum("n_rows").alias("total"))
    j = counts.crossJoin(F.broadcast(total))
    scaled = F.col("n_rows") * 1000000
    ppm = ((scaled - scaled % F.col("total")) / F.col("total")).cast("long")
    return (
        j.select("l_suppkey", "n_rows", ppm.alias("share_ppm"))
        .orderBy(F.desc("n_rows"), "l_suppkey")
        .limit(20)
    )


def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Flagship composition: the full training-corpus preparation flow
    # as ONE dataflow — exact dedup → Gopher-style quality gate →
    # benchmark decontamination → deterministic 50% sample → shard
    # assignment. Every stage is an already-oracled operator; the
    # composition itself is oracle-checked end-to-end. At scale each
    # stage prunes before the next shuffles: dedup is one hash agg,
    # the quality gate's shingle aggs run on survivors only, the
    # benchmark vocabulary broadcasts, and the sample + shard are
    # shuffle-free hash projections.
    from det_module_spark.operators.decontaminate import contamination_report
    from det_module_spark.operators.dedup import exact_dedup, stable_hash64
    from det_module_spark.operators.sampling import hash_sample
    from det_module_spark.operators.text import repetition_features

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    bench = docs.filter(F.col("doc_id") % 50 == 0)  # held-out eval set

    # 1. exact dedup on full-text hash: canonical doc carries the group.
    # The keep table is materialized once (optimization r10): d1 feeds
    # two consumers (repetition_features and the quality-gate join),
    # and without the cut each replans — and re-runs — the full-text
    # md5 dedup aggregation.
    keep = exact_dedup(corpus, F.md5("text"), "doc_id").select(
        F.col("keep_id").alias("doc_id"), "n_dups"
    ).localCheckpoint(eager=True)
    d1 = corpus.join(keep, "doc_id")

    # 2. quality gate: length window + repetition thresholds
    rep = repetition_features(d1)
    d2 = (
        d1.join(rep, "doc_id")
        .filter(
            F.col("n_tokens").between(30, 5000)
            & (F.col("dup_gram_frac") < 0.1)
            & (F.col("top_token_frac") < 0.12)
        )
        .select("doc_id", "text", "lang", "source", "n_dups", "n_tokens")
    )
    # d2 feeds two consumers (the contamination corpus side and the
    # semi-join left); materialize once instead of re-running the
    # dedup+quality subtree for each
    d2 = d2.localCheckpoint(eager=False)

    # 3. decontamination: drop docs where ≥ half the distinct trigrams
    # appear in the bench (an absolute ≥1-overlap rule degenerates on
    # a small shared vocabulary — every doc collides eventually)
    cont = contamination_report(d2.select("doc_id", "text"), bench)
    clean = cont.filter(F.col("overlap_frac") < 0.5).select("doc_id")
    d3 = d2.join(clean, "doc_id", "left_semi")

    # 4. deterministic content-hash sample + shard assignment
    d4 = hash_sample(d3, F.col("doc_id"), 0.5, seed="cp")
    shard = (
        stable_hash64(F.concat(F.lit("shard:"), F.col("doc_id").cast("string")))
        % 8
    )
    return d4.select(
        "doc_id", "source", "lang", "n_tokens", "n_dups", shard.alias("shard")
    )


def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q2 shape (min-cost supplier per part, adapted: no partsupp
    # table, so "cost" is the supplier's account balance and the
    # part-supplier relation comes from observed lineitem shipments).
    # Correlated-min subquery expressed as a per-part window min —
    # one shuffle keyed by partkey; dims broadcast.
    from pyspark.sql import Window

    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#3") & (F.col("p_size") <= 10)
    )
    supp = load_table(spark, sf_dir, "supplier")
    pairs = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    j = (
        pairs.join(F.broadcast(part), pairs.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), pairs.l_suppkey == supp.s_suppkey)
        .select("p_partkey", "p_name", "s_name", _cents("s_acctbal").alias("acctbal_c"))
    )
    w = Window.partitionBy("p_partkey")
    return (
        j.withColumn("min_acctbal_c", F.min("acctbal_c").over(w))
        .filter(F.col("acctbal_c") == F.col("min_acctbal_c"))
        .select("p_partkey", "p_name", "s_name", "acctbal_c")
        .orderBy("acctbal_c", "p_partkey", "s_name")
        .limit(100)
    )


def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q4 order-priority checking: EXISTS ⇒ left-semi join
    # (adapted existence predicate: a returned line, since the test
    # schema has no commit/receipt dates). Semi join shuffles only the
    # distinct keys of the filtered fact — no row multiplication.
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-04-01"))
    )
    returned = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    sel = orders.join(
        returned, orders.o_orderkey == returned.l_orderkey, "left_semi"
    )
    return (
        sel.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q7 volume shipping: two nation roles (supplier side vs
    # customer side) from one broadcast dim, symmetric pair predicate,
    # grouped by year. The big fact-fact joins shuffle on orderkey.
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") <= F.lit("1997-12-31"))
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    rev = (_cents("l_extendedprice") * (F.lit(100) - _cents("l_discount"))).alias(
        "rev_c4"
    )
    j = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
        .select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
            rev,
        )
    )
    return (
        j.groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.sum("rev_c4").alias("revenue_c4"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q8 national market share: CASE-conditioned sum over the
    # same integer-cents measure, ratio of two exact longs (rounded
    # identically on both engines only at the final divide).
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") <= F.lit("1997-12-31"))
    )
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "EUROPE"
    )
    n_c = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk")
    )
    n_s = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    rev = (_cents("l_extendedprice") * (F.lit(100) - _cents("l_discount"))).alias(
        "rev_c4"
    )
    j = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n_c), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(region), F.col("c_rk") == region.r_regionkey)
        .join(F.broadcast(n_s), F.col("s_nationkey") == F.col("s_nk"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            rev,
            "supp_nation",
        )
    )
    g = j.groupBy("o_year").agg(
        F.sum(
            F.when(F.col("supp_nation") == "NATION_3", F.col("rev_c4")).otherwise(
                F.lit(0)
            )
        ).alias("nation_rev_c4"),
        F.sum("rev_c4").alias("total_rev_c4"),
    )
    return g.select(
        "o_year",
        _pround(
            F.col("nation_rev_c4").cast("double")
            / F.col("total_rev_c4").cast("double"),
            6,
        ).alias("mkt_share"),
    ).orderBy("o_year")


def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q9 product-type profit (adapted: no partsupp, so profit =
    # discounted revenue) by supplier nation × order year, parts
    # selected by name infix — LIKE pushdown on a broadcast dim.
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").contains("widget")
    )
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    rev = (_cents("l_extendedprice") * (F.lit(100) - _cents("l_discount"))).alias(
        "amount_c4"
    )
    j = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
            rev,
        )
    )
    return (
        j.groupBy("nation", "o_year")
        .agg(F.sum("amount_c4").alias("sum_profit_c4"))
        .orderBy("nation", F.desc("o_year"))
    )


def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q11 important stock (adapted: per-part shipped value from
    # lineitem instead of partsupp inventory). HAVING against a scalar
    # subquery = integer cross-multiplication vs a broadcast 1-row agg
    # — no float threshold, no driver round-trip.
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_nationkey") == 5
    )
    val = (F.col("l_quantity").cast("long") * _cents("l_extendedprice")).alias(
        "val_c"
    )
    sel = li.join(supp, li.l_suppkey == supp.s_suppkey, "left_semi").select(
        "l_partkey", val
    )
    per_part = sel.groupBy("l_partkey").agg(F.sum("val_c").alias("value_c"))
    total = sel.agg(F.sum("val_c").alias("total_c"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("value_c") * F.lit(1000) > F.col("total_c"))
        .select("l_partkey", "value_c")
        .orderBy(F.desc("value_c"), "l_partkey")
    )


def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q12 shipping-mode priority classes (adapted: grouped by
    # l_linestatus; the schema has no shipmode). CASE-sum pivot over a
    # fact-fact join.
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    orders = load_table(spark, sf_dir, "orders")
    j = li.join(orders, li.l_orderkey == orders.o_orderkey)
    high = F.when(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), F.lit(1)
    ).otherwise(F.lit(0))
    return (
        j.groupBy("l_linestatus")
        .agg(
            F.sum(high).alias("high_line_count"),
            F.sum(F.lit(1) - high).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q13 customer order-count distribution: LEFT OUTER join so
    # zero-order customers survive, two cascaded aggregations. The
    # second groupBy is tiny (distinct counts), coalesced by AQE.
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") != "P"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q14 promo revenue share: CASE-sum ratio over one month,
    # exact integer numerator/denominator, one broadcast dim join.
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01"))
        & (F.col("l_shipdate") < F.lit("1996-10-01"))
    )
    part = load_table(spark, sf_dir, "part")
    rev = _cents("l_extendedprice") * (F.lit(100) - _cents("l_discount"))
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0)).alias(
            "promo_c4"
        ),
        rev.alias("rev_c4"),
    )
    g = j.agg(
        F.sum("promo_c4").alias("promo_c4"), F.sum("rev_c4").alias("total_c4")
    )
    return g.select(
        _pround(
            F.lit(100.0)
            * F.col("promo_c4").cast("double")
            / F.col("total_c4").cast("double"),
            6,
        ).alias("promo_revenue_pct")
    )


def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q15 top supplier: revenue view + scalar-max subquery kept
    # distributed (1-row broadcast cross join, no collect; ties kept,
    # as in the spec).
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    rev = (_cents("l_extendedprice") * (F.lit(100) - _cents("l_discount"))).alias(
        "rev_c4"
    )
    revenue = (
        li.select("l_suppkey", rev)
        .groupBy("l_suppkey")
        .agg(F.sum("rev_c4").alias("total_revenue_c4"))
    )
    mx = revenue.agg(F.max("total_revenue_c4").alias("max_rev_c4"))
    supp = load_table(spark, sf_dir, "supplier")
    return (
        revenue.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue_c4") == F.col("max_rev_c4"))
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue_c4")
        .orderBy("s_suppkey")
    )


def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q16 supplier diversity per part class: NOT-IN subquery as
    # a left-anti join (suppliers with negative balance stand in for
    # the complaints predicate), distinct-count aggregate.
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
    )
    bad_supp = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    )
    pairs = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
        .join(bad_supp, F.col("l_suppkey") == bad_supp.s_suppkey, "left_anti")
    )
    j = pairs.join(F.broadcast(part), pairs.l_partkey == part.p_partkey)
    return (
        j.groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q17 small-quantity-order revenue: the correlated avg
    # subquery is a per-part aggregate joined back to the fact;
    # `qty < 0.2*avg(qty)` cross-multiplied into exact integers
    # (5*qty*cnt < sum_qty) so both engines compare identically.
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#2"
    )
    stats = li.groupBy(F.col("l_partkey").alias("sp_partkey")).agg(
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        F.count(F.lit(1)).alias("cnt_qty"),
    )
    j = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(stats, li.l_partkey == F.col("sp_partkey"))
        .filter(
            F.col("l_quantity").cast("long") * F.lit(5) * F.col("cnt_qty")
            < F.col("sum_qty")
        )
    )
    return j.agg(
        F.sum(_cents("l_extendedprice")).alias("total_price_c"),
        F.count(F.lit(1)).alias("n_lines"),
    )


def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q19 discounted revenue: disjunction of conjunctive
    # brand/size/quantity bands — Catalyst pushes the common part-side
    # conjuncts into the broadcast dim, the OR evaluates post-join.
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    qty = F.col("l_quantity")
    band = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 5)
            & qty.between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 10)
            & qty.between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & qty.between(20, 30)
        )
    )
    rev = _cents("l_extendedprice") * (F.lit(100) - _cents("l_discount"))
    return j.filter(band).agg(
        F.sum(rev).alias("revenue_c4"), F.count(F.lit(1)).alias("n_lines")
    )


def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q20 excess-inventory suppliers (adapted: shipped quantity
    # from lineitem replaces partsupp availability): nested semi-join
    # chain — parts by name infix → per-supplier shipped qty HAVING →
    # semi join suppliers.
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    red_parts = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").contains("red")
    )
    heavy = (
        li.join(F.broadcast(red_parts), li.l_partkey == red_parts.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("qty"))
        .filter(F.col("qty") > 100)
    )
    supp = load_table(spark, sf_dir, "supplier")
    return (
        supp.join(heavy, supp.s_suppkey == heavy.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name", _cents("s_acctbal").alias("acctbal_c"))
        .orderBy("s_suppkey")
    )


def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q21 suppliers-who-kept-orders-waiting shape (adapted to
    # l_returnflag: supplier S returned a line on a finished
    # multi-supplier order, and NO other supplier returned one) —
    # EXISTS → left-semi on (orderkey, other-supplier), NOT EXISTS →
    # left-anti. Three passes over one narrow projection of lineitem.
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag"
    )
    orders_f = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    supp = load_table(spark, sf_dir, "supplier")
    l1 = (
        li.filter(F.col("l_returnflag") == "R")
        .join(orders_f, li.l_orderkey == orders_f.o_orderkey, "left_semi")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("sk"))
        .distinct()
    )
    others = li.select(
        F.col("l_orderkey").alias("o_ok"), F.col("l_suppkey").alias("o_sk")
    ).distinct()
    others_r = (
        li.filter(F.col("l_returnflag") == "R")
        .select(
            F.col("l_orderkey").alias("r_ok"), F.col("l_suppkey").alias("r_sk")
        )
        .distinct()
    )
    sel = l1.join(
        others,
        (F.col("ok") == F.col("o_ok")) & (F.col("sk") != F.col("o_sk")),
        "left_semi",
    ).join(
        others_r,
        (F.col("ok") == F.col("r_ok")) & (F.col("sk") != F.col("r_sk")),
        "left_anti",
    )
    return (
        sel.join(F.broadcast(supp), F.col("sk") == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q22 global sales opportunity: scalar avg subquery turned
    # into an exact integer cross-multiplication (bal*n > sum), NOT
    # EXISTS as left-anti against orders, grouped by nation (the
    # schema has no phone prefix).
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", _cents("c_acctbal").alias("bal_c")
    )
    pos = cust.filter(F.col("bal_c") > 0).agg(
        F.sum("bal_c").alias("sum_pos"), F.count(F.lit(1)).alias("n_pos")
    )
    recent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-07-01")
    )
    rich_idle = (
        cust.crossJoin(F.broadcast(pos))
        .filter(F.col("bal_c") * F.col("n_pos") > F.col("sum_pos"))
        .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
    )
    return (
        rich_idle.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum("bal_c").alias("totacctbal_c"),
        )
        .orderBy("c_nationkey")
    )


def q_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Entity resolution: all customer-name pairs within Levenshtein
    # distance 1, via SymSpell deletion-neighborhood banding — one
    # band-key shuffle + codegen levenshtein refinement, no cross join
    # (the DuckDB oracle IS the quadratic cross join, so the parity
    # check doubles as a losslessness proof at sf scale).
    from det_module_spark.operators.fuzzyjoin import edit1_pairs

    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return edit1_pairs(cust, "c_custkey", "c_name")


def q_json_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Semi-structured shredding: parse the events.props JSON string
    # ONCE per row with an explicit schema (from_json inside the scan
    # stage — no per-field re-parse, no Python), then aggregate the
    # typed field. Integer measures keep the sums exact.
    from det_module_spark.operators.semistructured import shred_json

    ev = _events(spark, sf_dir).select("event_id", "event_type", "props")
    typed = shred_json(ev, "props", "k LONG")
    return typed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
        F.sum(F.when(F.col("k") % 2 == 0, 1).otherwise(0)).alias("n_even"),
    )


def q_bigram_next(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Corpus bigram LM: top-3 next words per word with conditional
    # log-prob. Ranking on exact integer counts (lexical tiebreak);
    # one vocabulary-sized shuffle.
    from det_module_spark.operators.text import bigram_next_words

    docs = load_table(spark, sf_dir, "documents")
    return bigram_next_words(docs, k=3)


def q_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-source distinctive vocabulary by smoothed log-odds (Monroe
    # et al. style): which terms over-index in each source vs the rest.
    from det_module_spark.operators.text import distinctive_terms

    docs = load_table(spark, sf_dir, "documents")
    return distinctive_terms(docs, group_col="source", k=5)


def q_winsorize_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Robust cleaning: clip integer-cent prices to per-group [p05,p95]
    # interpolated percentiles (rounded to ints pre-clip so downstream
    # sums stay exact), then summarize clip impact per group.
    from det_module_spark.operators.cleaning import winsorize

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", _cents("l_extendedprice").alias("price_c")
    )
    w = winsorize(li, "price_c", "l_returnflag", 0.05, 0.95)
    return w.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("price_c_wins").alias("sum_wins_c"),
        F.sum(F.when(F.col("clipped_low"), 1).otherwise(0)).alias("n_low"),
        F.sum(F.when(F.col("clipped_high"), 1).otherwise(0)).alias("n_high"),
        F.min("price_c_wins").alias("min_wins_c"),
        F.max("price_c_wins").alias("max_wins_c"),
    )


def q_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Market-basket affinity: brand pairs co-purchased in >= 3 orders
    # with exact-integer supports and one rounded lift division. Pair
    # generation is a within-basket self-join keyed by order — output
    # bounded by sum(k choose 2), never a global cross join.
    from det_module_spark.operators.basket import basket_affinity

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        "l_orderkey", "p_brand"
    )
    return basket_affinity(baskets, "l_orderkey", "p_brand", min_support=3)


def q_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Incremental materialized-view maintenance: a standing per-(day,
    # type) rollup state plus a new batch's partial agg, merged by a
    # full-outer join + element-wise combine — equal to a full
    # recompute (the oracle computes it directly over all events).
    # History is never rescanned; the merge shuffle is |state|+|delta|.
    from det_module_spark.operators.incremental import (
        merge_agg_state,
        partial_agg,
    )

    ev = _events(spark, sf_dir).select(
        "event_id",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        "event_type",
        F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long").alias("v4"),
    )
    keys = ["day", "event_type"]
    spec = dict(
        sum_cols={"sum_v4": "v4"},
        min_cols={"min_v4": "v4"},
        max_cols={"max_v4": "v4"},
    )
    state = partial_agg(ev.filter(F.col("event_id") % 5 != 0), keys, **spec)
    delta = partial_agg(ev.filter(F.col("event_id") % 5 == 0), keys, **spec)
    return merge_agg_state(
        state, delta, keys, ["sum_v4"], ["min_v4"], ["max_v4"]
    )


def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Vector aggregation: per-label centroid + per-component variance
    # in exact fixed-point (components quantized to scaled longs, so
    # Σq/Σq² are order-independent int sums). posexplode → one hash
    # agg; shuffle ∝ labels × dim, not corpus.
    from det_module_spark.operators.similarity import label_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    return label_centroids(emb)


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Graph analytics: triangles per vertex in the brand co-purchase
    # graph (edges = basket_pairs with support >= 3). Degree-oriented
    # two-join listing — O(m^1.5) intermediate bound, no iteration.
    from det_module_spark.operators.basket import pair_counts
    from det_module_spark.operators.graph import triangle_count_per_vertex

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        "l_orderkey", "p_brand"
    )
    edges = pair_counts(baskets, "l_orderkey", "p_brand", min_support=3)
    return triangle_count_per_vertex(edges, "item_a", "item_b")


def q_column_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Data-quality profiling: Shannon entropy per column with the
    # fixed-point term-sum trick (each -p·ln p quantized to 1e-9 longs
    # before summing, so the aggregation is order-independent).
    from det_module_spark.operators.profile import column_entropy

    orders = load_table(spark, sf_dir, "orders")
    return column_entropy(
        orders, ["o_orderstatus", "o_orderpriority", "o_custkey"]
    )


def q_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Snapshot drift report: profile of pre-1996 orders vs the rest,
    # full-outer joined on column name — the pipeline-breakage early
    # warning (null spikes, cardinality swings, range shifts).
    from det_module_spark.operators.profile import profile_diff

    orders = load_table(spark, sf_dir, "orders")
    cols = ["o_orderstatus", "o_orderpriority", "o_custkey", "o_orderdate"]
    before = orders.filter(F.col("o_orderdate") < F.lit("1996-01-01"))
    after = orders.filter(F.col("o_orderdate") >= F.lit("1996-01-01"))
    return profile_diff(before, after, cols)


def q_seasonal_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Seasonal-baseline monitoring: per-(type, hour-of-day) baseline
    # from the first 24 days of events, z-scored observation buckets
    # for the last 6 — exact-moment arithmetic end-to-end.
    from det_module_spark.operators.anomaly import seasonal_anomalies

    return seasonal_anomalies(_events(spark, sf_dir), "2024-01-25")


def q_setsim_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exact shingle-set Jaccard >= 0.5 via PPJoin-style prefix
    # filtering: rarity-ordered prefixes generate candidates with an
    # equi-join, exact array_intersect verifies. The oracle computes
    # the same pairs with the quadratic join — parity proves the
    # prefix filter lossless at data scale.
    from det_module_spark.operators.setsim import jaccard_prefix_pairs

    docs = load_table(spark, sf_dir, "documents")
    return jaccard_prefix_pairs(docs, threshold=0.5, n=3)


def q_concurrency_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Sweep-line interval concurrency: open-order count per day and
    # priority class (interval = order date .. last line shipment).
    # One agg keyed by (group, day) + a per-group running sum — the
    # sort stays inside group partitions, never global.
    from det_module_spark.operators.sweepline import concurrency_curve

    li = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.max("l_shipdate").alias("ship_end"))
    )
    orders = load_table(spark, sf_dir, "orders")
    iv = orders.join(li, orders.o_orderkey == li.l_orderkey).select(
        "o_orderpriority",
        F.date_format(F.date_trunc("day", "o_orderdate"), "yyyy-MM-dd").alias(
            "d0"
        ),
        F.date_format(
            F.date_add(F.to_date(F.date_trunc("day", "ship_end")), 1),
            "yyyy-MM-dd",
        ).alias("d1"),
    )
    return concurrency_curve(
        iv, "o_orderpriority", F.col("d0"), F.col("d1")
    )


def q_equidepth_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exact equal-count histogram of order value: ntile over the total
    # order (cents, orderkey tiebreak) -> per-bucket count and bounds.
    from det_module_spark.operators.profile import equidepth_histogram

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", _cents("o_totalprice").alias("price_c")
    )
    return equidepth_histogram(orders, "price_c", "o_orderkey", 8)


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Weighted sampling without replacement (Efraimidis–Spirakis A-ES)
    # with hash-derived uniforms: deterministic across engines, runs,
    # and partitionings. Top-k selection, no full sort of the losers.
    from det_module_spark.operators.sampling import weighted_hash_sample

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", _cents("o_totalprice").alias("price_c")
    )
    return weighted_hash_sample(
        orders, F.col("price_c"), F.col("o_orderkey"), k=200
    )


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CCNet-style LM quality scoring: bigram model with stupid-backoff
    # trained on 90% of the corpus, scoring the held-out 10%. Every
    # per-bigram ln-term is fixed-point-quantized before the per-doc
    # sum, so the score is engine-exact.
    from det_module_spark.operators.text import bigram_logprob

    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 10 != 0)
    score = docs.filter(F.col("doc_id") % 10 == 0)
    return bigram_logprob(train, score)


def q_pseudonymize_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Privacy-preserving join: both sides' keys replaced by salted-
    # hash pseudonyms inside the scan projection; the join/groupBy
    # runs entirely on tokens (raw keys never cross the shuffle).
    from det_module_spark.operators.privacy import pseudonymize

    cust = pseudonymize(
        load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_mktsegment"
        ),
        ["c_custkey"],
        salt="s1",
    )
    orders = pseudonymize(
        load_table(spark, sf_dir, "orders").select("o_custkey"),
        ["o_custkey"],
        salt="s1",
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Release-gate audit: quasi-identifier combinations identifying
    # fewer than k=5 customers are re-identification risks.
    from det_module_spark.operators.privacy import k_anonymity_report

    cust = load_table(spark, sf_dir, "customer")
    return k_anonymity_report(cust, ["c_nationkey", "c_mktsegment"], k=5)


def q_fd_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Functional-dependency audit o_custkey -> o_orderpriority,
    # summarized as a violation histogram (how many customers use
    # exactly N distinct priorities).
    from det_module_spark.operators.quality import fd_violations

    orders = load_table(spark, sf_dir, "orders")
    v = fd_violations(orders, ["o_custkey"], "o_orderpriority")
    return v.groupBy("n_rhs_values").agg(
        F.count(F.lit(1)).alias("n_groups")
    )


def q_dict_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Order-preserving dictionary encoding of a low-cardinality
    # column: dense codes over the distinct values + code frequencies
    # from the encoded fact.
    from det_module_spark.operators.quality import dictionary_encode

    part = load_table(spark, sf_dir, "part").select("p_brand")
    dictionary, encoded = dictionary_encode(part, "p_brand")
    freq = encoded.groupBy("code").agg(F.count(F.lit(1)).alias("n_rows"))
    return dictionary.join(freq, "code").select("p_brand", "code", "n_rows")


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # First-order Markov matrix of user event sequences: one lead
    # window keyed by user + one |states|^2 aggregation.
    from det_module_spark.operators.sequence import event_transitions

    return event_transitions(_events(spark, sf_dir))


def q_sequence_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Ingestion audit: holes in the event-id sequence of a filtered
    # ingest slice (high-value events) — one lag window over distinct
    # ids; each output row is a maximal run of missing ids.
    from det_module_spark.operators.sequence import sequence_gaps

    ev = _events(spark, sf_dir).filter(F.col("value") >= 1.0)
    return sequence_gaps(ev, "event_id")


def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Benford first-digit screen on order values with per-digit chi^2
    # contributions — all ratios divide exact counts.
    from det_module_spark.operators.quality import benford_audit

    return benford_audit(
        load_table(spark, sf_dir, "orders"), "o_totalprice"
    )


def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Population-stability drift of the order-value distribution,
    # pre-1996 vs after: per-bin PSI contributions.
    from det_module_spark.operators.quality import psi_drift

    orders = load_table(spark, sf_dir, "orders")
    return psi_drift(
        orders.filter(F.col("o_orderdate") < F.lit("1996-01-01")),
        orders.filter(F.col("o_orderdate") >= F.lit("1996-01-01")),
        "o_totalprice",
        25000.0,
    )


def q_trend_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-segment OLS price trend (dollars vs ship-day) from exact
    # integer moments — one aggregation pass, engine-exact.
    from det_module_spark.operators.profile import grouped_linfit

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.datediff(
            F.to_date(F.date_trunc("day", "l_shipdate")),
            F.lit("1992-01-01").cast("date"),
        ).alias("day_x"),
        F.floor(F.col("l_extendedprice") + F.lit(0.5))
        .cast("long")
        .alias("price_d"),
    )
    return grouped_linfit(li, "l_returnflag", "day_x", "price_d")


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Robust median/MAD outlier flags per group, summarized: n, the
    # group median and MAD, and how many rows each flag state got.
    from det_module_spark.operators.cleaning import mad_outliers

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", _cents("l_extendedprice").alias("price_c")
    )
    flagged = mad_outliers(li, "price_c", "l_returnflag", k=3.0)
    return flagged.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("med").alias("med_c"),
        F.max("mad").alias("mad_c"),
        F.sum(F.when(F.col("is_mad_outlier"), 1).otherwise(0)).alias(
            "n_outliers"
        ),
    )


# --- round-5 additions: line-level dedup, NB classifier, perceptual
# near-dup (new capability families — see operator docstrings) -------


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # C4/RefinedWeb-style boilerplate removal: lines (10-word windows
    # of the whitespace corpus — it has no newline structure) present
    # in >= 2 distinct docs are dropped from EVERY doc; docs are
    # reassembled in line order. One freq agg + one equi-join + one
    # per-doc agg — linear, no broadcast of the corpus-derived
    # frequency table.
    from det_module_spark.operators.linededup import (
        line_dedup,
        split_fixed_lines,
    )

    docs = load_table(spark, sf_dir, "documents")
    lines = split_fixed_lines(docs, "doc_id", "text", 10)
    return line_dedup(lines, min_docs=2, policy="drop_all").orderBy(
        "doc_id"
    )


_LINE_DEDUP_LINES_SQL = """
    WITH docs AS (
      SELECT doc_id, string_split(text, ' ') AS toks
      FROM documents WHERE text IS NOT NULL
    ),
    lines AS (
      SELECT doc_id, CAST(i AS BIGINT) AS idx,
             array_to_string(list_slice(toks, i*10+1, i*10+10), ' ')
               AS line
      FROM docs,
           UNNEST(range(CAST(ceil(len(toks)/10.0) AS BIGINT))) AS t(i)
    )"""


def q_line_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    # C4-proper policy: the single globally-first occurrence (lowest
    # doc id, then lowest idx) of each duplicated line survives.
    from det_module_spark.operators.linededup import (
        line_dedup,
        split_fixed_lines,
    )

    docs = load_table(spark, sf_dir, "documents")
    lines = split_fixed_lines(docs, "doc_id", "text", 10)
    return line_dedup(lines, min_docs=2, policy="keep_first").orderBy(
        "doc_id"
    )


def q_nb_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Multinomial Naive Bayes source classifier: fit on doc_id%5!=0,
    # predict source for the held-out fifth. Closed-form fit = two
    # hash aggs; scores are integer-quantized ln terms (1e-9 units)
    # so the argmax and scoreq are cross-engine exact. Ties break to
    # the lexicographically largest label.
    from det_module_spark.operators.nbayes import nb_classify, nb_fit

    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 5 != 0).select(
        F.col("source").alias("label"), "text"
    )
    test = docs.filter(F.col("doc_id") % 5 == 0)
    token_stats, class_stats = nb_fit(train, "label", "text")
    return nb_classify(test, token_stats, class_stats).orderBy("doc_id")


def q_media_ahash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Perceptual (average-hash) near-dup over the media table: sample
    # 64 blob bytes per item (mapInPandas decode stand-in), 64-bit
    # aHash in pure Column arithmetic, multiprobe 16-bit-band LSH
    # self-join (complete at Hamming <= 7 by pigeonhole: 4 bands, so
    # some band differs in <= 1 bit and the 17-probe set covers it),
    # exact Hamming refine. The DELIVERABLE is bounded: per item, its
    # neighbor count + top-3 nearest neighbors — output <= items*3 on
    # any corpus, where emit-all-pairs grows ~n^2 on near-dup-dense
    # data (the r6 slope3 record; raw pairs stay available via
    # ahash_near_dup_pairs for bounded consumers). The oracle
    # recomputes the same bytes via ascii() (the blobs are UTF-8 of
    # ASCII text, so byte == codepoint) and ranks with QUALIFY-style
    # window SQL.
    from det_module_spark.operators.multimodal import (
        ahash64,
        ahash_near_dup_topk,
        media_from_documents,
        sample_pixels,
    )

    media = media_from_documents(load_table(spark, sf_dir, "documents"))
    hashes = ahash64(sample_pixels(media, n=64))
    return ahash_near_dup_topk(hashes, max_hamming=7, k=3).orderBy(
        "media_id", "rnk"
    )


def q_agg_delta_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Grouped-aggregate IVM under inserts AND deletes: a standing
    # per-priority (count, sum-cents) rollup of old orders receives a
    # delta batch (new orders +1, every 7th old order -1); the merged
    # view must equal a full recompute over the effective row set —
    # which is exactly the oracle. Shuffle ∝ |delta|, not history.
    from det_module_spark.operators.incremental import agg_delta_retract

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    old = orders.filter(F.col("o_orderkey") < 3000)
    state = old.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("cents").alias("sum_cents"),
    )
    ins = orders.filter(
        (F.col("o_orderkey") >= 3000) & (F.col("o_orderkey") < 4000)
    ).withColumn("_w", F.lit(1))
    dels = old.filter(F.col("o_orderkey") % 7 == 0).withColumn(
        "_w", F.lit(-1)
    )
    delta = ins.unionByName(dels).select("o_orderpriority", "cents", "_w")
    out = agg_delta_retract(
        state,
        delta,
        ["o_orderpriority"],
        "cents",
        sum_alias="sum_cents",
    )
    return out.orderBy("o_orderpriority")


def q_corpus_pipeline_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Flagship composition v2 — the round-5 stages as ONE dataflow:
    # line-level boilerplate removal (structure-aware dedup) → DSIR
    # importance selection toward the src0 domain (top-100) → k-means
    # diversity bucket per doc (cluster of its embedding). Each stage
    # is individually oracled; the composition is oracle-checked
    # end-to-end. Scale: the line freq agg prunes before DSIR's vocab
    # join shuffles; k-means joins on the bounded centroid table; the
    # only scalars are the documented control-plane ones.
    from det_module_spark.operators.importance import (
        dsir_select,
        dsir_weights,
    )
    from det_module_spark.operators.kmeans import kmeans_fit_predict
    from det_module_spark.operators.linededup import (
        line_dedup,
        split_fixed_lines,
    )

    docs = load_table(spark, sf_dir, "documents")
    lines = split_fixed_lines(docs, "doc_id", "text", 10)
    cleaned = (
        line_dedup(lines, min_docs=2, policy="drop_all")
        .filter(F.col("n_kept") >= 2)
        .join(docs.select("doc_id", "source"), "doc_id")
        .select("doc_id", F.col("clean_text").alias("text"), "source")
        # feeds three consumers (target model, raw model, scoring);
        # materialize the cleaned corpus once
        .localCheckpoint(eager=False)
    )
    target = cleaned.filter(F.col("source") == "src0")
    raw = cleaned.filter(F.col("source") != "src0")
    sel = dsir_select(dsir_weights(target, raw), k=100)
    km = kmeans_fit_predict(
        load_table(spark, sf_dir, "embeddings"), k=8, iters=1
    ).select(F.col("vec_id").alias("doc_id"), "cid")
    return sel.join(km, "doc_id").orderBy("doc_id")


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DSIR data selection: importance weights of the raw corpus under
    # contrastive unigram models (target = src0 docs), top-50 flagged
    # via a TakeOrdered threshold scalar (ties all selected; no global
    # window). Weights are integer-quantized ln sums — hash-exact.
    from det_module_spark.operators.importance import (
        dsir_select,
        dsir_weights,
    )

    docs = load_table(spark, sf_dir, "documents")
    target = docs.filter(F.col("source") == "src0")
    raw = docs.filter(F.col("source") != "src0")
    return dsir_select(dsir_weights(target, raw), k=50).orderBy("doc_id")


def q_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Okapi BM25 scoring against a fixed query-term set; exact
    # integer-rational arithmetic (see bm25_scores docstring), one
    # row per matching doc.
    from det_module_spark.operators.text import bm25_scores

    docs = load_table(spark, sf_dir, "documents")
    return bm25_scores(docs, ["spark", "window", "merge"]).orderBy(
        "doc_id"
    )


def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Distributed Lloyd k-means (k=8, 2 rounds + final assign) on the
    # embeddings table, exact integer arithmetic throughout; oracle is
    # the identical unrolled iteration in SQL (kmeans_sql).
    from det_module_spark.operators.kmeans import kmeans_fit_predict

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_fit_predict(emb, k=8, iters=2).orderBy("vec_id")


def q_skyline_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Pareto frontier of parts (minimize retail price, maximize size):
    # range-partition + per-partition one-pass + control-plane prefix
    # maxes — the distributed form of the x-sorted running-max scan,
    # vs the oracle's O(n^2) NOT-EXISTS dominance self-join.
    from det_module_spark.operators.skyline import skyline

    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", "p_size"
    )
    return skyline(part, x="p_retailprice", y="p_size").orderBy(
        "p_partkey"
    )


def q_bfs_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Multi-source BFS over the (undirected) customer<->supplier
    # bipartite graph: minimum hop count within 4 hops from customers
    # 1-3. Frontier expansion + visited anti-join — path-count-safe on
    # dense graphs; the oracle's recursive CTE uses UNION(distinct)
    # semantics for the same bound.
    from det_module_spark.operators.graph import bfs_hops

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") < 5000
    )
    li = load_table(spark, sf_dir, "lineitem")
    fwd = orders.join(li, orders.o_orderkey == li.l_orderkey).select(
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
    )
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    sources = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= 3)
        .select(
            F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias(
                "node"
            )
        )
    )
    return bfs_hops(edges, sources, max_hops=4).orderBy("node")


def q_bom_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Bill-of-materials explosion: a deterministic part forest
    # (parent = partkey DIV 4, per-edge qty = partkey % 3 + 1),
    # flattened to every ancestor->descendant pair with path depth and
    # extended quantity (sum over paths of the product of edge
    # quantities). Level-wise closure joins vs the oracle's recursive
    # CTE.
    from det_module_spark.operators.hierarchy import transitive_closure

    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_partkey") >= 4
    )
    edges = part.select(
        F.expr("p_partkey DIV 4").alias("parent"),
        F.col("p_partkey").alias("child"),
        (F.pmod(F.col("p_partkey"), F.lit(3)) + 1).alias("qty"),
    )
    return transitive_closure(edges, qty="qty", max_depth=16).orderBy(
        "ancestor", "descendant"
    )


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Change-data-feed generation: diff two deterministic snapshots of
    # orders (deletes where key % 11 == 0, inserts where key % 7 == 0,
    # price bumps where key % 5 == 0) into the minimal I/U/D batch.
    # One full-outer equi-join.
    from det_module_spark.operators.scd import snapshot_diff

    orders = load_table(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderkey") % 7 != 0)
    new = orders.filter(F.col("o_orderkey") % 11 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") + 100.0
        ).otherwise(F.col("o_totalprice")),
    )
    return snapshot_diff(
        old, new, "o_orderkey", ["o_totalprice"]
    ).orderBy("o_orderkey")


def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Homogeneity-attack audit: per (nation, segment) group, count
    # distinct account-balance bands; k-anonymous groups with < 3
    # distinct sensitive values are still risky.
    from det_module_spark.operators.privacy import l_diversity_report

    cust = load_table(spark, sf_dir, "customer").withColumn(
        "bal_band", F.floor(F.col("c_acctbal") / 1000).cast("long")
    )
    return l_diversity_report(
        cust, ["c_nationkey", "c_mktsegment"], "bal_band", l=3
    )


def q_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DP-style histogram release: per-event-type counts with
    # deterministic symmetric hash noise and small-group suppression.
    # The noise derivation (md5 -> two bounded uniforms -> difference)
    # is pure Column arithmetic, reproduced exactly in the oracle.
    from det_module_spark.operators.privacy import dp_noisy_counts

    events = load_table(spark, sf_dir, "events")
    return dp_noisy_counts(
        events, ["event_type"], seed="r5", noise_bound=8, min_count=10
    ).orderBy("event_type")


def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exact-phrase retrieval via positional-posting intersection:
    # posexplode once, keep only the phrase's three terms (filter
    # reaches the scan), then two (doc, pos - i) equi-joins.
    from det_module_spark.operators.text import phrase_search

    docs = load_table(spark, sf_dir, "documents")
    return phrase_search(docs, ["slow", "hash", "batch"]).orderBy(
        "doc_id"
    )


def q_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Density filter on the customer<->supplier graph: iterative
    # peeling to the 12-core (drop nodes with undirected degree < 12
    # until stable). Unrolled-peel SQL oracle; early exit once a round
    # removes nothing.
    from det_module_spark.operators.graph import k_core

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") < 5000
    )
    li = load_table(spark, sf_dir, "lineitem")
    edges = orders.join(li, orders.o_orderkey == li.l_orderkey).select(
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
    )
    return k_core(edges, k=12, rounds=6).orderBy("node")


def q_snb_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The OTHER classic ER blocking strategy (vs fuzzy_name_pairs'
    # deletion banding): sorted-neighborhood — rank by name via
    # dense_ids (no global window), pair each record with its 5 sort
    # successors through one rank-bucket equi-join, refine with
    # thresholded levenshtein.
    from det_module_spark.operators.fuzzyjoin import (
        sorted_neighborhood_pairs,
    )

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name"
    )
    return sorted_neighborhood_pairs(
        cust, "c_custkey", "c_name", window=5, max_distance=1
    ).orderBy("id_a", "id_b")


def q_log_as_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Point-in-time read over a synthesized I/U/D change log (insert
    # at seq 10, delete at 15 for key%7==0, update at 20 for key%3==0)
    # cut at seq 25: exercises deletion, update, and update-after-
    # delete revival. One pushed-down filter + one per-key window.
    from det_module_spark.operators.scd import log_as_of

    orders = load_table(spark, sf_dir, "orders")
    ins = orders.select(
        "o_orderkey",
        F.lit(10).cast("long").alias("seq"),
        F.lit("I").alias("op"),
        F.col("o_totalprice").alias("price"),
    )
    dels = orders.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        F.lit(15).cast("long").alias("seq"),
        F.lit("D").alias("op"),
        F.lit(None).cast("double").alias("price"),
    )
    upds = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        F.lit(20).cast("long").alias("seq"),
        F.lit("U").alias("op"),
        (F.col("o_totalprice") + 100.0).alias("price"),
    )
    log = ins.unionByName(dels).unionByName(upds)
    return log_as_of(
        log, "o_orderkey", "seq", ["price"], as_of=25
    ).orderBy("o_orderkey")


def q_quantile_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Cross-source score calibration: per-returnflag price
    # distributions mapped onto a shared reference (mean over groups
    # of per-bucket means), all truncating-int64 arithmetic.
    from det_module_spark.operators.profile import quantile_normalize_map

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("grp"),
        _cents("l_extendedprice").alias("v"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("tb"),
    )
    return quantile_normalize_map(li, "grp", "v", "tb", 10).orderBy(
        "grp", "bucket"
    )


def q_woe_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Supervised binning: weight-of-evidence + IV of extended price
    # (8 exact equi-depth bins) against the returned-flag label, all
    # int64 (quantized-ln + truncating DIV) — see encoding.woe_binning.
    from det_module_spark.operators.encoding import woe_binning

    li = load_table(spark, sf_dir, "lineitem").select(
        _cents("l_extendedprice").alias("v"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("tb"),
        (F.col("l_returnflag") == "R").cast("int").alias("y"),
    )
    return woe_binning(li, "v", "tb", "y", n_bins=8).orderBy("bucket")


def q_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Leakage-safe categorical encoding: out-of-fold mean of the
    # fulfilled-order label per priority class, every (cat x fold)
    # cell emitted. Two hash aggs + a literal fold-range explode.
    from det_module_spark.operators.encoding import target_encode_oof

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        (F.col("o_orderstatus") == "F").cast("int").alias("y"),
        F.pmod(F.col("o_orderkey"), F.lit(5)).alias("fold5"),
    )
    return target_encode_oof(
        orders, "o_orderpriority", "y", "fold5", n_folds=5
    ).orderBy("cat", "fold")


def q_retrieval_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Flagship retrieval composition: sparse ranking (exact-integer
    # BM25) -> top-20 candidates (TakeOrdered, no global window on the
    # corpus) -> dense redundancy filter (drop any candidate whose
    # quantized-embedding dot with a higher-ranked candidate exceeds
    # the threshold) -> top-5. The 20-row candidate frame bounds the
    # rank window and the pairwise join by construction.
    from pyspark.sql import Window

    from det_module_spark.operators.mmr import int_dot, quantize_vec
    from det_module_spark.operators.text import bm25_scores

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    bm = bm25_scores(docs, ["slow", "hash", "batch"])
    cand = bm.orderBy(F.desc("scoreq"), F.asc("doc_id")).limit(20)
    w = Window.orderBy(F.desc("scoreq"), F.asc("doc_id"))
    cand = cand.withColumn("rank", F.row_number().over(w))
    # 20 rows by construction — materialize once: cv feeds THREE
    # subtrees (both redundancy-join sides + the survivor anti-join),
    # each of which would otherwise re-run BM25 over the corpus
    # (playbook #29; 24 scans -> 2 in the executed plan)
    cv = (
        cand.join(emb, cand.doc_id == emb.vec_id)
        .select(
            "rank",
            "doc_id",
            "scoreq",
            quantize_vec(F.col("embedding")).alias("v"),
        )
        .localCheckpoint(eager=False)
    )
    a, b = cv.alias("a"), cv.alias("b")
    red = (
        a.join(
            b,
            (F.col("b.rank") < F.col("a.rank"))
            & (int_dot(F.col("a.v"), F.col("b.v")) > 300000),
        )
        .select(F.col("a.doc_id").alias("doc_id"))
        .distinct()
    )
    surv = cv.join(red, "doc_id", "left_anti")
    return surv.orderBy("rank").limit(5).select(
        "rank", "doc_id", "scoreq"
    )


def q_mmr_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Diversified retrieval: MMR greedy (λ=0.5, ×2-scaled integer
    # objective) over the top-12 relevance pool per query vector.
    # Quantized int64 dot products end-to-end; the oracle unrolls the
    # four selection steps as CTEs.
    from det_module_spark.operators.mmr import mmr_select

    emb = load_table(spark, sf_dir, "embeddings")
    return mmr_select(
        emb.filter(F.col("vec_id") < 3), emb, k=4, pool=12
    ).orderBy("query_id", "sel_rank")


def _weighted_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    # symmetrized customer<->supplier graph weighted by the MINIMUM
    # line quantity over the pair's lineitems (one agg; parallel edges
    # collapse so each relaxation round touches each pair once)
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") < 5000
    )
    li = load_table(spark, sf_dir, "lineitem")
    fwd = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias(
                "src"
            ),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias(
                "dst"
            ),
        )
        .agg(F.min(F.col("l_quantity").cast("long")).alias("w"))
    )
    return fwd.unionByName(
        fwd.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
        )
    )


def q_sssp_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Weighted shortest paths (Bellman-Ford relaxation rounds) from
    # customers 1-3 over the symmetrized quantity-weighted bipartite
    # graph; integer distances, monotone early-exit ≡ unrolled oracle.
    from det_module_spark.operators.graph import sssp

    sources = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= 3)
        .select(
            F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias(
                "node"
            )
        )
    )
    return sssp(
        _weighted_edges(spark, sf_dir), sources, rounds=4
    ).orderBy("node")


def q_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    # HITS hubs/authorities, 2 unnormalized integer rounds over the
    # DIRECTED customer->supplier graph: customers score as hubs,
    # suppliers as authorities — same ranking as the normalized form.
    from det_module_spark.operators.graph import hits

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") < 5000
    )
    li = load_table(spark, sf_dir, "lineitem")
    edges = orders.join(li, orders.o_orderkey == li.l_orderkey).select(
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
    )
    return hits(edges, rounds=2).orderBy("node")


def q_delta_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Incremental dedup — THE daily-ingest shape: the corpus
    # (doc_id % 10 != 0) is banded once into a persistable LSH posting
    # index; the new batch (doc_id % 10 == 0) is banded and probed
    # against it with ONE (band, bucket) equi-join. Work ∝ batch, not
    # corpus²; candidates then feed the usual exact verifier.
    from det_module_spark.operators.dedup import (
        minhash_lsh_index,
        minhash_lsh_probe,
    )

    docs = load_table(spark, sf_dir, "documents")
    corpus_sigs = minhash_signatures(
        docs.filter(F.col("doc_id") % 10 != 0), num_hashes=16
    )
    delta_sigs = minhash_signatures(
        docs.filter(F.col("doc_id") % 10 == 0), num_hashes=16
    )
    index = minhash_lsh_index(corpus_sigs, bands=8, rows=2)
    return minhash_lsh_probe(index, delta_sigs, bands=8, rows=2).orderBy(
        "probe_id", "index_id"
    )


def q_acf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Autocorrelation of the per-type event-value series at lags 1-3:
    # exact int64 moments per (type, lag) via one grouped lag window +
    # one agg; only the final sqrt/divide is float (IEEE-pinned).
    from det_module_spark.operators.profile import acf_exact

    ev = _events(spark, sf_dir).select(
        "event_type", "ts", "event_id", _cents("value").alias("v")
    )
    return acf_exact(
        ev, "event_type", ["ts", "event_id"], "v", max_lag=3
    ).orderBy("event_type", "lag")


def q_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Independence audit: order priority x order status contingency
    # table with per-cell quantized chi-square contributions and the
    # statistic + dof in the grand-total row.
    from det_module_spark.operators.quality import chi_square_independence

    orders = load_table(spark, sf_dir, "orders")
    return chi_square_independence(
        orders, "o_orderpriority", "o_orderstatus"
    ).orderBy(F.col("a").asc_nulls_last(), F.col("b").asc_nulls_last())


def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    # First/last-touch conversion attribution: one per-user window
    # (ignore-nulls first/last over the strictly-preceding frame),
    # purchases credited to view/click/signup exposures.
    from det_module_spark.operators.attribution import (
        attribution_report,
        touch_attribution,
    )

    ev = _events(spark, sf_dir)
    conv = touch_attribution(
        ev,
        "user_id",
        ["ts", "event_id"],
        channel=F.col("event_type"),
        is_touch=F.col("event_type").isin("view", "click", "signup"),
        is_conv=F.col("event_type") == "purchase",
        value=_cents("value"),
    )
    return attribution_report(conv).orderBy("model", "channel")


def q_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    # MATCH_RECOGNIZE-lite: per-user event strings (v/c/s/p/e chars,
    # ordered by (µs, event_id)) matched against 'v[vc]*p' — a view,
    # any run of views/clicks, then a purchase. One collect_list
    # shuffle keyed by user; regex in the Java∩RE2 subset.
    from det_module_spark.operators.seqpattern import sequence_pattern_counts

    # ts is TIMESTAMP_NTZ; the UTC-pinned session makes the cast to
    # instant exact, so unix_micros ≡ the oracle's epoch_us
    ev = _events(spark, sf_dir).select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        "event_id",
        "event_type",
    )
    return sequence_pattern_counts(
        ev,
        "user_id",
        ["us", "event_id"],
        "event_type",
        {"view": "v", "click": "c", "signup": "s", "purchase": "p",
         "error": "e"},
        "v[vc]*p",
    ).orderBy("key")


def q_streak_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    # gaps-and-islands: per-user consecutive-active-day streaks via
    # the day - row_number island anchor (windows sort only inside
    # the user partition).
    from det_module_spark.operators.seqpattern import longest_streaks

    ev = _events(spark, sf_dir)
    return longest_streaks(ev, "user_id", F.to_date("ts")).orderBy("key")


def q_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    # interval coalescing: each event spans [ts, ts + (event_id%7+1)
    # minutes) — deterministic variable lengths, so this exercises
    # genuine overlap merging (running-max island boundary), not the
    # fixed-gap sessionize special case.
    from det_module_spark.operators.seqpattern import coalesce_intervals

    ev = _events(spark, sf_dir)
    s = F.unix_timestamp("ts")
    e = s + (F.col("event_id") % 7 + 1) * 60
    return coalesce_intervals(ev, "user_id", s, e).orderBy(
        "key", "start_s", "end_s"
    )


def q_precede_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # first-occurrence precedence matrix: for each ordered pair of
    # event types, #users whose first A came strictly before their
    # first B (µs timestamps, type-name tiebreak).
    from det_module_spark.operators.seqpattern import precedence_counts

    ev = _events(spark, sf_dir)
    return precedence_counts(
        ev,
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")),
    ).orderBy("type_a", "type_b")


def q_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    # common-neighbor link prediction between customers sharing
    # suppliers (Adamic-Adar 1/ln(deg) weights quantized to int64
    # per-neighbor before the pair sum); top-100 candidate links.
    from det_module_spark.operators.graph import adamic_adar

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") < 5000
    )
    li = load_table(spark, sf_dir, "lineitem")
    edges = orders.join(li, orders.o_orderkey == li.l_orderkey).select(
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
    )
    return (
        adamic_adar(edges)
        .orderBy(F.desc("aa_q"), "node_a", "node_b")
        .limit(100)
    )


def q_sq8_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    # int8 scalar quantization audit: per-dim min/max codebook (64
    # rows — a schema constant), per-vector code checksum + quantized
    # reconstruction error. Per-dim error terms land in int64 BEFORE
    # the per-vector sum (order-independent).
    from det_module_spark.operators.quantize import sq8_quantize

    emb = load_table(spark, sf_dir, "embeddings")
    return (
        sq8_quantize(emb).withColumnRenamed("id", "vec_id").orderBy("vec_id")
    )


def q_unicode_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # corpus intake canonicalization: NFC (Arrow pandas UDF) +
    # control-char strip + ASCII-whitespace collapse; md5 computed
    # JVM-side over the cleaned UTF-8.
    from det_module_spark.operators.text import unicode_clean

    docs = load_table(spark, sf_dir, "documents")
    return unicode_clean(docs).orderBy("doc_id")


def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    # reciprocal-rank fusion of a sparse run (integer-exact BM25,
    # top-20) and a dense run (quantized-int dot vs the vec_id=1
    # query embedding, top-20): rrf_q = Σ 1e6 div (60 + rank). Both
    # rank windows run over 20-row TakeOrdered frames; the query
    # vector is a 1-row broadcast.
    from pyspark.sql import Window

    from det_module_spark.operators.mmr import int_dot, quantize_vec
    from det_module_spark.operators.text import bm25_scores

    docs = load_table(spark, sf_dir, "documents")
    sparse = (
        bm25_scores(docs, ["spark", "window", "merge"])
        .orderBy(F.desc("scoreq"), "doc_id")
        .limit(20)
    )
    ws = Window.orderBy(F.desc("scoreq"), "doc_id")
    sparse_r = sparse.select(
        "doc_id", F.row_number().over(ws).cast("long").alias("rank_sparse")
    )
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.where(F.col("vec_id") == 1).select(
        quantize_vec(F.col("embedding")).alias("qv")
    )
    dots = (
        emb.select(
            F.col("vec_id").alias("doc_id"),
            quantize_vec(F.col("embedding")).alias("cv"),
        )
        .crossJoin(F.broadcast(qv))
        .select("doc_id", int_dot(F.col("cv"), F.col("qv")).alias("dot"))
    )
    dense = dots.orderBy(F.desc("dot"), "doc_id").limit(20)
    wd = Window.orderBy(F.desc("dot"), "doc_id")
    dense_r = dense.select(
        "doc_id", F.row_number().over(wd).cast("long").alias("rank_dense")
    )
    fused = sparse_r.join(dense_r, "doc_id", "full_outer")

    def contrib(c: str):
        return F.when(
            F.col(c).isNotNull(), F.expr(f"1000000 div (60 + {c})")
        ).otherwise(F.lit(0))

    return (
        fused.select(
            "doc_id",
            "rank_sparse",
            "rank_dense",
            (contrib("rank_sparse") + contrib("rank_dense"))
            .cast("long")
            .alias("rrf_q"),
        )
        .orderBy(F.desc("rrf_q"), "doc_id")
        .limit(10)
    )


def q_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    # α=1/2 EWMA in exact fixed point (8-lag truncation, dyadic
    # weights ×256): per-type smoothed value series, hash-identical
    # across engines because no float recurrence exists.
    from det_module_spark.operators.profile import ewma_exact

    ev = _events(spark, sf_dir).select(
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        "event_id",
        _cents("value").alias("v"),
    )
    return ewma_exact(ev, "event_type", ["us", "event_id"], "v", k=8).orderBy(
        "grp", "us", "event_id"
    )


def q_cusum_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    # division-free CUSUM level-shift detection per event type:
    # running Σ(n·x − Σx) extremes + the earliest argmax timestamp
    # (the estimated change point), all exact int64.
    from det_module_spark.operators.profile import cusum_levels

    ev = _events(spark, sf_dir).select(
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        "event_id",
        _cents("value").alias("v"),
    )
    return cusum_levels(ev, "event_type", ["us", "event_id"], "v").orderBy(
        "grp"
    )


def q_random_walk_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deterministic DeepWalk-style walk corpus: 5 seed customers, 4
    # steps over the symmetrized customer<->supplier graph; next hop
    # = md5(walk:step:node) mod outdeg against the ranked adjacency
    # list (one equi-join per step, frontier ≤ #walks).
    from det_module_spark.operators.graph import random_walks

    edges = _weighted_edges(spark, sf_dir).select("src", "dst")
    seeds = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= 5)
        .select(
            F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias(
                "node"
            )
        )
    )
    return random_walks(edges, seeds, steps=4).orderBy(
        "walk_id", "step", "node"
    )


def q_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # hashing-trick collision audit over three order features folded
    # into 64 signed slots; the date feature (~thousands of distinct
    # values) forces real collisions.
    from det_module_spark.operators.encoding import feature_hash_profile

    orders = load_table(spark, sf_dir, "orders")
    return feature_hash_profile(
        orders, ["o_orderpriority", "o_orderstatus", "o_orderdate"], 64
    ).orderBy("bucket")


def q_negative_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # popularity-biased negative sampling: 3 deterministic hash-drawn
    # negatives per customer from the top-50 most-purchased parts the
    # customer never bought (bounded pool broadcast; anti-join seen).
    from det_module_spark.operators.sampling import negative_sample

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") < 5000
    )
    li = load_table(spark, sf_dir, "lineitem")
    inter = orders.join(li, orders.o_orderkey == li.l_orderkey).select(
        F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part")
    )
    return (
        negative_sample(inter, "cust", "part", pool_size=50, k=3)
        .select(
            F.col("user").alias("user_id"),
            F.col("item").alias("item_id"),
            "neg_rank",
        )
        .orderBy("user_id", "neg_rank")
    )


def q_rendezvous_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    # HRW/rendezvous consistent placement: per-shard key counts under
    # 8 shards plus how many keys MOVE when a 9th is added (~1/9 —
    # the minimal-movement property vs ~8/9 for mod-hashing). The
    # argmax is row-local (array_max over 8 structs, no explode).
    from det_module_spark.operators.layout import rendezvous_assign

    cust = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    assigned = cust.select(
        rendezvous_assign(cust, k, 8).alias("shard"),
        rendezvous_assign(cust, k, 9).alias("shard9"),
    )
    return (
        assigned.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum(
                F.when(F.col("shard") != F.col("shard9"), 1).otherwise(0)
            ).alias("n_moved"),
        )
        .orderBy("shard")
    )


def q_doc_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-document character entropy (gibberish/repetition signal):
    # exact 1e-9-quantized ln terms summed in int64, integer division
    # at the end.
    from det_module_spark.operators.text import char_entropy

    docs = load_table(spark, sf_dir, "documents")
    return (
        char_entropy(docs)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    )


def q_kfold_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deterministic 5-fold assignment balance audit: docs per
    # (fold, lang) — the split a CV/ablation harness would read.
    from det_module_spark.operators.sampling import kfold_assign

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            kfold_assign(F.col("doc_id"), 5).alias("fold"), "lang"
        )
        .groupBy("fold", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("fold", "lang")
    )


def q_blocking_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    # blocking-quality audit for the dedup pipeline: recall/precision
    # of the MinHash-LSH candidate generator against the exact n-gram
    # Jaccard truth pairs (threshold 0.12). The truth side is the
    # quadratic verifier — this is the offline eval you run at a
    # sampled SF before trusting the banding at full scale.
    from det_module_spark.operators.text import word_shingles

    docs = load_table(spark, sf_dir, "documents")
    # truth and cand each feed TWO consumers (their count agg + the
    # hit join); a union's/join's branches are planned independently
    # (playbook #29), so materialize each expensive pair table once
    # instead of re-running the quadratic verifier / banding per use.
    # Both sides also start from the SAME 3-gram shingle table —
    # materialize it once and the documents scan + tokenize + explode
    # runs once instead of twice (each side applies its own hash
    # domain downstream, so values are unchanged).
    # eager so the two independent consumers below don't race to
    # compute it; truth and candidate pipelines then overlap on two
    # driver threads (guide §2.6) — wall = max, not sum
    sh3 = word_shingles(docs, "doc_id", "text", 3).localCheckpoint(
        eager=True
    )
    from concurrent.futures import ThreadPoolExecutor

    def build_truth():
        return (
            ngram_jaccard_pairs(docs, n=3, threshold=0.12, shingles=sh3)
            .select("id_a", "id_b")
            .localCheckpoint(eager=True)
        )

    def build_cand():
        sigs = minhash_signatures(docs, num_hashes=16, shingles=sh3)
        return (
            minhash_lsh_pairs(sigs, bands=8, rows=2)
            .select("id_a", "id_b")
            .localCheckpoint(eager=True)
        )

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_t, f_c = pool.submit(build_truth), pool.submit(build_cand)
        truth, cand = f_t.result(), f_c.result()
    t = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    c = cand.agg(F.count(F.lit(1)).alias("n_cand"))
    h = truth.join(cand, ["id_a", "id_b"]).agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    j = t.crossJoin(c).crossJoin(h)
    return j.select(
        "n_truth",
        "n_cand",
        "n_hit",
        F.when(
            F.col("n_truth") > 0,
            F.expr("n_hit * 1000000 div n_truth"),
        ).alias("recall_ppm"),
        F.when(
            F.col("n_cand") > 0,
            F.expr("n_hit * 1000000 div n_cand"),
        ).alias("precision_ppm"),
    )


def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Poisson-bootstrap CI for mean order value: 40 deterministic
    # hash-seeded replicates in ONE pass (map-side combine folds the
    # x40 explode to 40 cells per partition before the shuffle).
    from det_module_spark.operators.bootstrap import bootstrap_mean_ci

    orders = load_table(spark, sf_dir, "orders")
    return bootstrap_mean_ci(
        orders, F.col("o_orderkey"), _cents("o_totalprice"), b=40
    )


def q_partition_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-month content signatures of the orders table (count +
    # order-independent XOR of a keyed row hash) — the snapshot-diff
    # table an incremental validator compares across versions.
    from det_module_spark.operators.quality import partition_checksums

    orders = load_table(spark, sf_dir, "orders")
    row_repr = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_orderstatus"),
        _cents("o_totalprice").cast("string"),
    )
    return partition_checksums(
        orders, F.date_format("o_orderdate", "yyyy-MM"), row_repr
    ).orderBy("part")


def q_simpson_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # stratified-vs-pooled rate audit (Simpson's-paradox detector):
    # per order-month, finished-rate of urgent/high vs lower
    # priorities in exact ppm, with the pooled row as stratum NULL;
    # sgn flips between strata and pool when aggregation reverses a
    # comparison.
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        F.date_format("o_orderdate", "yyyy-MM").alias("stratum"),
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").alias("is_a"),
        (F.col("o_orderstatus") == "F").cast("long").alias("flag"),
    )

    def rates(df: DataFrame, keys: list[str]) -> DataFrame:
        g = df.groupBy(*keys).agg(
            F.sum(F.when(F.col("is_a"), 1).otherwise(0)).alias("n_a"),
            F.sum(F.when(F.col("is_a"), F.col("flag"))).alias("f_a"),
            F.sum(F.when(~F.col("is_a"), 1).otherwise(0)).alias("n_b"),
            F.sum(F.when(~F.col("is_a"), F.col("flag"))).alias("f_b"),
        )
        ra = F.expr("f_a * 1000000 div n_a")
        rb = F.expr("f_b * 1000000 div n_b")
        # a one-group stratum has no comparison: sgn NULL (the oracle
        # CASE must spell this out — `NULL > x` silently falls through
        # to ELSE there)
        return g.select(
            *keys,
            "n_a",
            "n_b",
            ra.alias("rate_a_ppm"),
            rb.alias("rate_b_ppm"),
            F.when(
                ra.isNotNull() & rb.isNotNull(),
                F.signum((ra - rb).cast("double")).cast("long"),
            ).alias("sgn"),
        )

    per = rates(base, ["stratum"])
    pooled = rates(base.withColumn("stratum", F.lit(None).cast("string")),
                   ["stratum"])
    return per.unionByName(pooled).orderBy(
        F.col("stratum").asc_nulls_last()
    )


def q_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    # collocation mining: top-50 PMI bigrams (support >= 5) with
    # quantized-ln arithmetic — the multiword-expression candidates a
    # tokenizer pipeline mines before BPE fitting.
    from det_module_spark.operators.text import bigram_pmi

    docs = load_table(spark, sf_dir, "documents")
    return (
        bigram_pmi(docs, min_count=5)
        .orderBy(F.desc("pmi_q"), "w1", "w2")
        .limit(50)
    )


def q_degree_assort(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Newman degree assortativity of the customer<->supplier graph:
    # exact int64 moments over symmetrized edge-endpoint degrees,
    # float only in the final sqrt/divide.
    from det_module_spark.operators.graph import degree_assortativity

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") < 5000
    )
    li = load_table(spark, sf_dir, "lineitem")
    edges = orders.join(li, orders.o_orderkey == li.l_orderkey).select(
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
    )
    return degree_assortativity(edges)


def q_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DAU/WAU stickiness per day. The trailing-7-day distinct-user
    # window is computed SHUFFLE-SHAPED: each active (user, day)
    # explodes to the 7 future days it supports (x7 linear fan-out,
    # equi-joins only) instead of a day-band non-equi join.
    ev = _events(spark, sf_dir)
    active = ev.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    dau = active.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    contrib = active.select(
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"),
        "day",
    ).select("user_id", F.date_add("day", F.col("i")).alias("day"))
    wau = (
        contrib.distinct()
        .join(active.select("day").distinct(), "day", "left_semi")
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("wau"))
    )
    return (
        dau.join(wau, "day")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "dau",
            "wau",
            F.expr("dau * 1000000 div wau").alias("stickiness_ppm"),
        )
        .orderBy("day")
    )


def q_gini_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-month Gini concentration of order value (exact integer
    # rank-sum formula, tie-order invariant). Whole dollars, not
    # cents: the ppm scaling multiplies the rank-sum numerator by
    # 1e6, and n·Σx·1e6 must stay inside int64 (gini_exact contract).
    from det_module_spark.operators.profile import gini_exact

    orders = load_table(spark, sf_dir, "orders").select(
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        F.floor(F.col("o_totalprice") + F.lit(0.5)).cast("long").alias("v"),
    )
    return gini_exact(orders, "month", "v").orderBy("grp")


def q_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    # quality-filter calibration: PR sweep of doc length (the crudest
    # quality score) against the lang=='en' label across 8 fixed
    # thresholds; exact ppm, one pass.
    from det_module_spark.operators.quality import pr_curve

    docs = load_table(spark, sf_dir, "documents")
    ths = [50, 100, 200, 400, 800, 1600, 3200, 6400]
    return pr_curve(
        docs, F.col("n_chars"), (F.col("lang") == "en"), ths
    ).orderBy("threshold")


def q_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    # feature-selection audit: exact-integer N*MI (1e-9 nats) between
    # order priority and order status — the ranking signal next to
    # chi_square's significance.
    from det_module_spark.operators.quality import mutual_information

    orders = load_table(spark, sf_dir, "orders")
    return mutual_information(orders, "o_orderpriority", "o_orderstatus")


def q_temporal_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    # time-based train/test holdout discipline: cutoff = day 24 of
    # the 30-day window (fixed calendar cutoff — reproducible without
    # a quantile job), report per-split rows, users, and the user
    # overlap that a naive random split would leak 100% of.
    ev = _events(spark, sf_dir)
    day = F.to_date("ts")
    cutoff = F.lit("2024-01-25").cast("date")
    tagged = ev.select(
        F.when(day < cutoff, "train").otherwise("test").alias("split"),
        "user_id",
    )
    per = tagged.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("user_id").alias("n_users"),
    )
    both = (
        tagged.where(F.col("split") == "train")
        .select("user_id")
        .distinct()
        .join(
            tagged.where(F.col("split") == "test")
            .select("user_id")
            .distinct(),
            "user_id",
            "left_semi",
        )
        .agg(F.count(F.lit(1)).alias("n_overlap_users"))
    )
    return per.crossJoin(F.broadcast(both)).orderBy("split")


def q_colbert_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    # late-interaction retrieval: labels play multi-vector documents
    # (their member embeddings are the "token" vectors), the 4 lowest
    # vec_ids of label 1 play the query tokens; MaxSim = sum of
    # per-query-token best dots, exact quantized ints.
    from det_module_spark.operators.similarity import maxsim_scores

    emb = load_table(spark, sf_dir, "embeddings")
    docs = emb.where(F.col("label") != 1).select(
        F.col("label").alias("doc"), "embedding"
    )
    qt = (
        emb.where(F.col("label") == 1)
        .orderBy("vec_id")
        .limit(4)
        .select(F.col("vec_id").alias("qid"), "embedding")
    )
    return maxsim_scores(docs, qt).orderBy(F.desc("maxsim_q"), "doc")


def q_nucleus_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    # top-p curation cut: per order-month, the smallest set of parts
    # covering 50% of revenue; summarized per month (kept items,
    # total items, exact kept-share ppm).
    from det_module_spark.operators.sampling import nucleus_filter

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    rev = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy(
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
            F.col("l_partkey").alias("part"),
        )
        .agg(F.sum(_cents("l_extendedprice")).alias("rev_c"))
    )
    kept = nucleus_filter(rev, "month", "part", "rev_c", p_ppm=500_000)
    tot = rev.groupBy(F.col("month").alias("grp")).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("rev_c").alias("total_c"),
    )
    ks = kept.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("w").alias("kept_c"),
    )
    return (
        ks.join(tot, "grp")
        .select(
            "grp",
            "n_kept",
            "n_items",
            F.expr("kept_c * 1000000 div total_c").alias("kept_share_ppm"),
        )
        .orderBy("grp")
    )


def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact two-sample KS per event type: did the value distribution
    # drift between the first half of the window (day < 16) and the
    # rest? D's sup over sample points in pure int64.
    from det_module_spark.operators.quality import ks_drift

    ev = _events(spark, sf_dir)
    return ks_drift(
        ev,
        "event_type",
        F.dayofmonth("ts") < 16,
        _cents("value"),
    ).orderBy("stratum")


def q_matryoshka_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # MRL truncation audit: top-10 overlap vs full 64-dim retrieval
    # at 8/16/32/64-dim prefix budgets (64 is the built-in sanity
    # row: overlap == k).
    from det_module_spark.operators.similarity import matryoshka_audit

    emb = load_table(spark, sf_dir, "embeddings")
    return matryoshka_audit(
        emb, query_id=1, dims=[8, 16, 32, 64], k=10
    ).orderBy("dim_budget")


def q_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    # multi-touch linear attribution: every preceding touch shares
    # the purchase value equally (exact integer division per
    # conversion x channel; floor remainders documented).
    from det_module_spark.operators.attribution import linear_attribution

    ev = _events(spark, sf_dir)
    return linear_attribution(
        ev,
        "user_id",
        ["ts", "event_id"],
        channel=F.col("event_type"),
        is_touch=F.col("event_type").isin("view", "click", "signup"),
        is_conv=F.col("event_type") == "purchase",
        value=_cents("value"),
    ).orderBy("channel")


def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # tokenizer-vocabulary audit: per-language OOV share against the
    # corpus's own top-1000 tokens.
    from det_module_spark.operators.text import oov_rate

    docs = load_table(spark, sf_dir, "documents")
    per = oov_rate(docs, vocab_size=1000)
    return (
        per.join(docs.select(F.col("doc_id").alias("id"), "lang"), "id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tok"),
            F.sum("n_oov").alias("n_oov"),
        )
        .select(
            "lang",
            "n_docs",
            "n_tok",
            "n_oov",
            F.expr("n_oov * 1000000 div n_tok").alias("oov_ppm"),
        )
        .orderBy("lang")
    )


def q_session_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    # product-analytics rollup on top of sessionization (gap >= 30
    # min): per user — session count, bounce count (single-event
    # sessions), total session-seconds, events. Two per-user windows
    # + two hash aggs; everything keyed by user.
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    base = ev.select(
        "event_id", "user_id", F.unix_timestamp("ts").alias("ts_s")
    )
    w = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
    lagged = base.withColumn("prev_s", F.lag("ts_s").over(w))
    is_new = F.when(
        F.col("prev_s").isNull() | (F.col("ts_s") - F.col("prev_s") >= 1800),
        1,
    ).otherwise(0)
    labeled = lagged.select(
        "user_id",
        "ts_s",
        F.sum(is_new)
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("session_seq"),
    )
    per_session = labeled.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_ev"),
        (F.max("ts_s") - F.min("ts_s")).alias("dur_s"),
    )
    return (
        per_session.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum(F.when(F.col("n_ev") == 1, 1).otherwise(0)).alias(
                "n_bounce"
            ),
            F.sum("dur_s").alias("total_dur_s"),
            F.sum("n_ev").alias("n_events"),
        )
        .orderBy("user_id")
    )


def q_weighted_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    # weight-proportional walk corpus (quantity-weighted graph):
    # next hop lands in the neighbor's cumulative-weight interval —
    # P(v) ∝ w(u,v) under the replayable hash draw.
    from det_module_spark.operators.graph import weighted_random_walks

    seeds = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= 5)
        .select(
            F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias(
                "node"
            )
        )
    )
    return weighted_random_walks(
        _weighted_edges(spark, sf_dir), seeds, steps=4
    ).orderBy("walk_id", "step", "node")


def q_graph_voronoi(spark: SparkSession, sf_dir: str) -> DataFrame:
    # graph-Voronoi ownership: every node within 4 hops routed to its
    # nearest seed customer (min hops, seed-asc ties) — the
    # graph-aware sharding assignment.
    from det_module_spark.operators.graph import nearest_seed

    seeds = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= 3)
        .select(
            F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias(
                "node"
            )
        )
    )
    edges = _weighted_edges(spark, sf_dir).select("src", "dst")
    return nearest_seed(edges, seeds, rounds=4).orderBy("node")


def q_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    # classic growth accounting: per day, users split into new (first
    # ever), retained (also active yesterday), resurrected (returning
    # after a gap), plus yesterday's actives who churned today. Two
    # per-user windows over distinct active days; day-keyed aggs.
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    active = ev.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    lagged = active.select(
        "user_id",
        "day",
        F.lag("day").over(w).alias("prev_day"),
        F.lead("day").over(w).alias("next_day"),
    )
    status = F.when(F.col("prev_day").isNull(), "new").when(
        F.datediff("day", "prev_day") == 1, "retained"
    ).otherwise("resurrected")
    per_day = (
        lagged.select("day", status.alias("st"))
        .groupBy("day")
        .agg(
            F.sum(F.when(F.col("st") == "new", 1).otherwise(0)).alias(
                "n_new"
            ),
            F.sum(
                F.when(F.col("st") == "retained", 1).otherwise(0)
            ).alias("n_retained"),
            F.sum(
                F.when(F.col("st") == "resurrected", 1).otherwise(0)
            ).alias("n_resurrected"),
        )
    )
    max_day = active.agg(F.max("day").alias("mx"))
    churn = (
        lagged.where(
            F.col("next_day").isNull()
            | (F.datediff("next_day", "day") > 1)
        )
        .select(F.date_add("day", 1).alias("day"))
        .crossJoin(F.broadcast(max_day))
        .where(F.col("day") <= F.col("mx"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n_churned"))
    )
    return (
        per_day.join(churn, "day", "full_outer")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
            F.coalesce("n_retained", F.lit(0)).alias("n_retained"),
            F.coalesce("n_resurrected", F.lit(0)).alias("n_resurrected"),
            F.coalesce("n_churned", F.lit(0)).alias("n_churned"),
        )
        .orderBy("day")
    )


def q_wasserstein_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    # magnitude-aware drift: exact integer earth-mover distance per
    # event type between the first half of the window and the rest —
    # the integral companion to ks_drift's sup.
    from det_module_spark.operators.quality import wasserstein_drift

    ev = _events(spark, sf_dir)
    return wasserstein_drift(
        ev,
        "event_type",
        F.dayofmonth("ts") < 16,
        _cents("value"),
    ).orderBy("stratum")


def _derived_urls(docs: DataFrame) -> DataFrame:
    # deterministic messy-URL column derived from document fields:
    # mixed-case schemes/hosts, www prefixes, default and non-default
    # ports, duplicate and trailing slashes, tracking params,
    # fragments — every class normalize_urls must handle. Residues of
    # doc_id drive the variants so the oracle can rebuild the exact
    # same strings.
    d = F.col("doc_id")
    scheme = F.when(d % 2 == 0, F.lit("HTTP://")).otherwise(
        F.lit("https://")
    )
    www = F.when(d % 5 == 0, F.lit("WWW.")).otherwise(F.lit(""))
    tld = F.when(d % 2 == 0, F.lit(".COM")).otherwise(F.lit(".org"))
    port = (
        F.when(d % 4 == 0, ":80")
        .when(d % 4 == 1, ":443")
        .when(d % 4 == 2, ":8080")
        .otherwise("")
    )
    path = F.concat(
        F.lit("/docs//"),
        (d % 7).cast("string"),
        F.when(d % 3 == 0, F.lit("/")).otherwise(F.lit("")),
    )
    qs = (
        F.when(d % 3 == 0, "?utm_source=feed&b=2&a=1")
        .when(d % 3 == 1, "?a=1&fbclid=XY")
        .otherwise("")
    )
    frag = F.when(d % 6 == 0, F.lit("#sec2")).otherwise(F.lit(""))
    return docs.select(
        "doc_id",
        F.concat(
            scheme, www, F.col("source"), tld, port, path, qs, frag
        ).alias("url"),
    )


def q_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # crawl-curation URL canonicalization: per canonical URL, how many
    # raw spellings collapsed onto it. Pure codegen projection + one
    # hash agg.
    from det_module_spark.operators.web import normalize_urls

    docs = load_table(spark, sf_dir, "documents")
    return (
        normalize_urls(_derived_urls(docs))
        .groupBy("canonical", "domain")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("canonical")
    )


def q_domain_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-registered-domain quota sampling over the canonicalized
    # crawl: keep ≤3 docs per domain by deterministic md5 rank.
    from det_module_spark.operators.web import domain_caps, normalize_urls

    docs = load_table(spark, sf_dir, "documents")
    urls = normalize_urls(_derived_urls(docs))
    return domain_caps(
        urls.select("doc_id", "domain"), cap=3
    ).orderBy("domain")


def q_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CUPED covariate diagnostics per event type: unit = user, X =
    # pre-period activity (days 1-15), Y = the rest; exact int64
    # moments, variance-reduction fraction corr² in ppm.
    from det_module_spark.operators.experiment import cuped_report

    ev = _events(spark, sf_dir)
    return cuped_report(
        ev, "event_type", "user_id", F.dayofmonth("ts") < 16
    ).orderBy("stratum")


def q_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    # t-closeness privacy audit over (source, lang) quasi-identifiers
    # with the clamped length bucket as the ordered sensitive
    # attribute; exact integer ordered-EMD, flagged at t=0.2.
    from det_module_spark.operators.privacy import t_closeness_report

    docs = load_table(spark, sf_dir, "documents")
    return t_closeness_report(
        docs,
        ["source", "lang"],
        F.expr("least(n_chars div 50, 20)"),
    ).orderBy("source", "lang")


def q_item_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # item-item cosine collaborative filtering over the (user, item)
    # incidence from the props payload; per-user fanout capped.
    from det_module_spark.operators.cf import item_item_cf

    ev = _events(spark, sf_dir)
    inter = ev.select(
        "user_id",
        F.get_json_object("props", "$.k")
        .cast("long")
        .cast("string")
        .alias("item"),
    ).where(F.col("item").isNotNull())
    return item_item_cf(
        inter, "user_id", "item", k=5, max_items_per_user=50
    ).orderBy("item_a", "rk")


def q_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    # KM survival of per-topic engagement: a unit is a (event_type,
    # user) pair, its lifetime the span between first and last
    # activity of that type; death = silent for >=3 days before the
    # window edge, still-active units are right-censored. Integer
    # log-space survival curve.
    from det_module_spark.operators.survival import kaplan_meier

    ev = _events(spark, sf_dir)
    return kaplan_meier(
        ev,
        F.col("event_type"),
        "user_id",
        F.expr("datediff(CAST(ts AS DATE), DATE '1970-01-01')"),
        horizon_days=3,
    ).orderBy("cohort", "t")


def q_hilbert_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Hilbert layout key beside zorder_key: the staged per-bit
    # recurrence, exhaustively adjacency-tested in pytest.
    from det_module_spark.operators.layout import hilbert_by

    part = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        (F.col("p_partkey") % 256).alias("x"),
        ((F.col("p_size") * 5) % 256).alias("y"),
    )
    return hilbert_by(part, "x", "y", bits=8).orderBy(
        "hkey", "p_partkey"
    )


def q_markov_ksteps(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 4-step transition reach: integer ppm matrix raised by two
    # join-squarings (log2 k shuffles over |states|^2 frames).
    from det_module_spark.operators.sequence import (
        markov_power,
        transition_matrix_ppm,
    )

    ev = _events(spark, sf_dir)
    p1 = transition_matrix_ppm(ev)
    return markov_power(p1, 4).orderBy("from_state", "to_state")


def q_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    # content-defined chunking + per-source storage-dedup report:
    # boundaries from the word hash, so chunk hashes survive edits.
    from det_module_spark.operators.chunking import (
        chunk_dedup_report,
        content_defined_chunks,
    )

    docs = load_table(spark, sf_dir, "documents")
    chunks = content_defined_chunks(docs, modulus=8)
    src = docs.select(F.col("doc_id").alias("id"), "source")
    return chunk_dedup_report(chunks, src).orderBy("source")


def q_json_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    # schema inference over a flat-JSON feed: per (key, inferred
    # type) presence counts + a deterministic example. The payload is
    # the props object enriched with a deterministically typed extra
    # key so every vtype branch is exercised.
    from det_module_spark.operators.semistructured import (
        json_key_profile,
    )

    ev = _events(spark, sf_dir)
    opt = (
        F.when(F.col("event_id") % 5 == 0, ', "opt": null')
        .when(F.col("event_id") % 5 == 1, ', "opt": true')
        .when(F.col("event_id") % 5 == 2, ', "opt": 1.5')
        .when(F.col("event_id") % 5 == 3, ', "opt": "s"')
        .otherwise("")
    )
    payload = ev.select(
        F.concat(
            F.expr("rtrim('}', props)"), opt, F.lit("}")
        ).alias("j")
    )
    return json_key_profile(payload, "j").orderBy("key", "vtype")


def q_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    # local clustering coefficient per brand in the co-purchase graph
    # (exact integer ratio over the degree-oriented triangle listing).
    from det_module_spark.operators.basket import pair_counts
    from det_module_spark.operators.graph import clustering_coefficients

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = li.join(
        F.broadcast(part), li.l_partkey == part.p_partkey
    ).select("l_orderkey", "p_brand")
    edges = pair_counts(baskets, "l_orderkey", "p_brand", min_support=3)
    return clustering_coefficients(edges, "item_a", "item_b").orderBy(
        "vertex"
    )


def q_itemsets3(spark: SparkSession, sf_dir: str) -> DataFrame:
    # frequent 3-itemsets with Apriori pruning over sparse baskets
    # (first-3-days activity keeps baskets small enough that the
    # downward-closure pruning actually removes candidates).
    from det_module_spark.operators.basket import triple_counts

    ev = _events(spark, sf_dir).where(F.dayofmonth("ts") < 4)
    items = ev.select(
        F.col("user_id").alias("basket"),
        F.concat(
            F.lit("i"),
            (
                F.get_json_object("props", "$.k").cast("long") % 30
            ).cast("string"),
        ).alias("item"),
    )
    return triple_counts(
        items, "basket", "item", min_support=4
    ).orderBy("item_a", "item_b", "item_c")


_PRUNE_PROBES = [
    (0, 31, 0, 31),
    (64, 127, 64, 127),
    (0, 15, 96, 127),
    (32, 47, 32, 47),
]


def q_layout_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    # file-skipping effectiveness of three layout keys on the same
    # points: equal-size "files" by key order, min/max boxes, count
    # files intersecting each probe rectangle — the measured evidence
    # behind offering Hilbert beside Z-order (fewer files touched).
    from det_module_spark.operators.layout import (
        hilbert_by,
        layout_pruning_eval,
        morton_key,
    )

    pts = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        ((F.col("p_partkey") * 37) % 128).alias("x"),
        ((F.col("p_partkey") * 61) % 128).alias("y"),
    )
    outs = []
    keyed = {
        "hilbert": hilbert_by(pts, "x", "y", bits=7).withColumnRenamed(
            "hkey", "k"
        ),
        "morton": pts.withColumn(
            "k", morton_key(F.col("x"), F.col("y"))
        ),
        "xsort": pts.withColumn("k", F.col("x").cast("long")),
    }
    # the three layout evaluations are independent chains of blocking
    # jobs (dense_ids enumeration + count per layout) — overlap them
    # on driver threads (guide §2.6), wall = max instead of sum
    from concurrent.futures import ThreadPoolExecutor

    def eval_layout(item):
        name, df = item
        okeyed = df.select(
            "x",
            "y",
            (F.col("k") * 100000000 + F.col("p_partkey")).alias("okey"),
        )
        return layout_pruning_eval(
            okeyed, "okey", "x", "y", n_buckets=32,
            probes=_PRUNE_PROBES,
        ).select(F.lit(name).alias("layout"), "*")

    with ThreadPoolExecutor(max_workers=3) as pool:
        outs = list(pool.map(eval_layout, keyed.items()))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("layout", "probe_id")


def q_hex_bin(spark: SparkSession, sf_dir: str) -> DataFrame:
    # hex density map over derived points; cell assignment is pure
    # IEEE-deterministic double arithmetic mirrored in the oracle.
    from det_module_spark.operators.spatial import hex_bin

    pts = load_table(spark, sf_dir, "part").select(
        ((F.col("p_partkey") * 13) % 97).alias("x"),
        ((F.col("p_partkey") * 29) % 89).alias("y"),
    )
    return (
        hex_bin(pts, "x", "y", size=4.0)
        .groupBy("hq", "hr")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("hq", "hr")
    )


def _cs_graph(spark: SparkSession, sf_dir: str, with_t: bool):
    # customer↔supplier interaction graph (both directions), bounded
    # to the first 5000 orders — shared by the walk/PPR/temporal
    # queries.
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    od = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    j = li.join(od, li.l_orderkey == od.o_orderkey).where(
        F.col("o_orderkey") < 5000
    )
    cols = [
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("c"),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("s"),
    ]
    if with_t:
        cols.append(
            F.expr(
                "datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01')"
            ).alias("t")
        )
    base = j.select(*cols)
    fwd = base.select(
        F.col("c").alias("src"), F.col("s").alias("dst"),
        *(["t"] if with_t else []),
    )
    rev = base.select(
        F.col("s").alias("src"), F.col("c").alias("dst"),
        *(["t"] if with_t else []),
    )
    return fwd.unionByName(rev).distinct()


def q_ppr_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    # personalized PageRank from 5 seed customers over the
    # customer↔supplier graph — exact-integer fixed point, restart
    # mass on the seeds.
    from det_module_spark.operators.graph import personalized_pagerank

    edges = _cs_graph(spark, sf_dir, with_t=False)
    seeds = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_custkey") <= 5)
        .select(
            F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias(
                "node"
            )
        )
    )
    return personalized_pagerank(edges, seeds, iterations=3).orderBy(
        "node"
    )


def q_temporal_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    # time-respecting earliest arrival from 3 seed suppliers: paths
    # must use non-decreasing order dates (contagion over the
    # transaction network, not static reachability).
    from det_module_spark.operators.graph import temporal_reachability

    edges = _cs_graph(spark, sf_dir, with_t=True)
    seeds = (
        load_table(spark, sf_dir, "supplier")
        .where(F.col("s_suppkey") <= 3)
        .select(
            F.concat(F.lit("s"), F.col("s_suppkey").cast("string")).alias(
                "node"
            )
        )
    )
    return temporal_reachability(edges, seeds, rounds=4).orderBy("node")


def q_distinct_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    # multidimensional distinct-count rollup: exact COUNT DISTINCT per
    # CUBE cell with grouping_id disambiguation ('ALL' labels keep the
    # output sort NULL-free — playbook #30).
    od = load_table(spark, sf_dir, "orders")
    return (
        od.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().alias("gid"),
            F.countDistinct("o_custkey").alias("n_cust"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            "gid",
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias(
                "priority"
            ),
            "n_cust",
            "n_rows",
        )
        .orderBy("gid", "status", "priority")
    )


def q_rolling_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-type 7-day rolling OLS slope of daily revenue — the local
    # "is this metric turning?" detector; exact window moments, one
    # IEEE division per row.
    from det_module_spark.operators.anomaly import rolling_trend

    ev = _events(spark, sf_dir)
    daily = (
        ev.select(
            "event_type",
            F.expr(
                "datediff(CAST(ts AS DATE), DATE '1970-01-01')"
            ).alias("day"),
            _cents("value").alias("c"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("c").alias("cents"))
    )
    return rolling_trend(
        daily, "event_type", "day", "cents", window=7
    ).orderBy("event_type", "day")


def q_pit_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    # point-in-time enrichment: facts join the SCD2 dimension version
    # valid AT the fact's date (valid_from <= d < valid_to) — the
    # leakage-free feature join (current-value joins leak the future).
    from det_module_spark.operators.scd import scd2_history

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("segment")
    )
    upd = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 500)
        .select(
            F.col("o_custkey").alias("c_custkey"),
            F.col("o_orderpriority").alias("segment"),
            F.col("o_orderdate").alias("ts"),
            F.col("o_orderkey").alias("seq"),
        )
    )
    hist = scd2_history(
        cust, upd, "c_custkey", "segment", ts="ts", seq="seq"
    )
    facts = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderkey") >= 500) & (F.col("o_orderkey") < 2000)
        )
        .select("o_orderkey", "o_custkey", "o_orderdate")
    )
    j = facts.join(
        hist,
        (facts.o_custkey == hist.c_custkey)
        & (
            hist.valid_from.isNull()
            | (hist.valid_from <= facts.o_orderdate)
        )
        & (
            hist.valid_to.isNull()
            | (facts.o_orderdate < hist.valid_to)
        ),
    )
    return j.select(
        "o_orderkey",
        "o_custkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        "segment",
    ).orderBy("o_orderkey")


def q_logreg_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # distributed logistic regression: 3 Newton rounds, per-row
    # quantized moment terms (order-independent int64 sums),
    # closed-form 3x3 solve — the identical SQL text runs as the
    # DuckDB oracle.
    from det_module_spark.operators.glm import logreg_fit

    ev = _events(spark, sf_dir)
    feat = ev.select(
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("y"),
        F.dayofmonth("ts").alias("x1"),
        F.least(F.floor("value").cast("long"), F.lit(50)).alias("x2"),
    )
    return logreg_fit(feat, "y", "x1", "x2", rounds=3)


def q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    # kNN label prediction over embeddings: exact cosine top-10 per
    # probe, majority vote with (count desc, label asc) tie-break via
    # one min(struct) agg — no vote window.
    from det_module_spark.operators.similarity import cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") < 5)
    corpus = emb.where(F.col("vec_id") >= 5)
    topk = cosine_topk(probes, corpus, k=10)
    labeled = topk.join(
        corpus.select(F.col("vec_id").alias("neighbor_id"), "label"),
        "neighbor_id",
    )
    votes = labeled.groupBy("query_id", "label").agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        votes.groupBy("query_id")
        .agg(
            F.min(
                F.struct(
                    (-F.col("n")).alias("neg"),
                    F.col("label").alias("l"),
                )
            ).alias("s")
        )
        .select(
            "query_id",
            F.col("s.l").alias("pred_label"),
            (-F.col("s.neg")).alias("n_votes"),
        )
        .orderBy("query_id")
    )


def q_logreg_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    # train + reliability diagram in one deterministic SQL text: fit
    # 3 Newton rounds, score every event, bucket by predicted prob.
    from det_module_spark.operators.glm import logreg_calibrate

    ev = _events(spark, sf_dir)
    feat = ev.select(
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("y"),
        F.dayofmonth("ts").alias("x1"),
        F.least(F.floor("value").cast("long"), F.lit(50)).alias("x2"),
    )
    return logreg_calibrate(feat, "y", "x1", "x2", rounds=3, bins=10)


def _ndcg_weights() -> list[tuple[int, int]]:
    # quantized 1/log2(rank+1) gain weights for ranks 1..10 — the
    # SAME integer literals are embedded in the oracle, so the metric
    # is exact-int on both engines.
    import math

    return [
        (i, math.floor(1e9 / math.log2(i + 1) + 0.5))
        for i in range(1, 11)
    ]


_NDCG_QUERIES = [
    ("q1", ("spark", "window", "merge")),
    ("q2", ("hash", "scan", "batch")),
]


def q_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ranker evaluation: NDCG@10 of BM25 rankings against the
    # deterministic graded relevance rel(doc) = doc_id % 4; exact
    # integer DCG/IDCG with embedded quantized log weights.
    from pyspark.sql import Window

    from det_module_spark.operators.text import bm25_scores

    docs = load_table(spark, sf_dir, "documents")
    wdf = spark.createDataFrame(_ndcg_weights(), ["rnk", "wq"])
    outs = []
    for qid, terms in _NDCG_QUERIES:
        # 10-row frame consumed twice (dcg AND idcg) — checkpoint so
        # the BM25 corpus scoring runs once per query, not twice
        top = (
            bm25_scores(docs, list(terms))
            .orderBy(F.desc("scoreq"), F.asc("doc_id"))
            .limit(10)
            .localCheckpoint(eager=True)
        )
        ranked = top.select(
            (F.col("doc_id") % 4).alias("rel"),
            F.row_number()
            .over(Window.orderBy(F.desc("scoreq"), F.asc("doc_id")))
            .alias("rnk"),
            F.row_number()
            .over(
                Window.orderBy(
                    F.desc(F.col("doc_id") % 4), F.asc("doc_id")
                )
            )
            .alias("ideal_rnk"),
        )
        dcg = (
            ranked.join(F.broadcast(wdf), "rnk")
            .agg(F.sum(F.col("rel") * F.col("wq")).alias("dcg_q"))
        )
        idcg = (
            ranked.join(
                F.broadcast(wdf.withColumnRenamed("rnk", "ideal_rnk")),
                "ideal_rnk",
            )
            .agg(F.sum(F.col("rel") * F.col("wq")).alias("idcg_q"))
        )
        outs.append(
            dcg.crossJoin(idcg).select(
                F.lit(qid).alias("qid"),
                "dcg_q",
                "idcg_q",
                F.when(
                    F.col("idcg_q") > 0,
                    F.expr("dcg_q * 1000000 div idcg_q"),
                ).alias("ndcg_ppm"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("qid")


def q_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    # significance companion to kaplan_meier: is 'click' engagement
    # survival different from 'error'? Exact O, quantized E/V terms,
    # one mirrored IEEE chi-square.
    from det_module_spark.operators.survival import logrank_test

    ev = _events(spark, sf_dir)
    return logrank_test(
        ev,
        F.col("event_type"),
        "user_id",
        F.expr("datediff(CAST(ts AS DATE), DATE '1970-01-01')"),
        group_a="click",
        group_b="error",
        horizon_days=3,
    )


def q_corpus_pipeline_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    # session flagship: the crawl-curation front half end to end —
    # URL canonicalization → exact canonical dedup (min doc id
    # survives) → per-domain quota (md5-rank ≤5) → content-defined
    # chunk storage-dedup report per source on the survivors.
    from pyspark.sql import Window

    from det_module_spark.operators.chunking import (
        chunk_dedup_report,
        content_defined_chunks,
    )
    from det_module_spark.operators.web import normalize_urls

    docs = load_table(spark, sf_dir, "documents")
    urls = normalize_urls(_derived_urls(docs))
    canon_keep = urls.groupBy("canonical").agg(
        F.min("doc_id").alias("doc_id"),
        F.min("domain").alias("domain"),
    )
    wcap = Window.partitionBy("domain").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    survivors = (
        canon_keep.withColumn("_rk", F.row_number().over(wcap))
        .where(F.col("_rk") <= 5)
        .select("doc_id")
    )
    kept_docs = docs.join(survivors, "doc_id")
    chunks = content_defined_chunks(kept_docs, modulus=8)
    src = kept_docs.select(F.col("doc_id").alias("id"), "source")
    return chunk_dedup_report(chunks, src).orderBy("source")


def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    # embedding-distribution drift: per label, cosine between the
    # even-id and odd-id centroid — quantized per-dim integer sums,
    # one IEEE sqrt/divide.
    from det_module_spark.operators.similarity import centroid_drift

    emb = load_table(spark, sf_dir, "embeddings")
    return centroid_drift(
        emb, "label", F.col("vec_id") % 2 == 0
    ).orderBy("label")


def _rbo_weights(p: float = 0.9, k: int = 10) -> list[tuple[int, int]]:
    # quantized (1-p)·p^(d-1)/d weights — identical integer literals
    # feed both engines.
    import math

    return [
        (d, math.floor((1 - p) * p ** (d - 1) / d * 1e9 + 0.5))
        for d in range(1, k + 1)
    ]


_RBO_TERMS_A = ("spark", "window", "merge")
_RBO_TERMS_B = ("spark", "window", "hash")


def q_rbo_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rank-biased overlap between two BM25 rankings (p=0.9, depth
    # 10): Σ_d overlap@d · w_d with quantized weight literals — the
    # ranking-stability metric for comparing retrievers.
    from pyspark.sql import Window

    from det_module_spark.operators.text import bm25_scores

    docs = load_table(spark, sf_dir, "documents")

    def prefix(terms):
        top = (
            bm25_scores(docs, list(terms))
            .orderBy(F.desc("scoreq"), F.asc("doc_id"))
            .limit(10)
        )
        ranked = top.select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.desc("scoreq"), F.asc("doc_id")))
            .alias("rnk"),
        )
        return ranked.select(
            "doc_id",
            F.explode(
                F.sequence(F.col("rnk"), F.lit(10))
            ).alias("d"),
        )

    wdf = spark.createDataFrame(_rbo_weights(), ["d", "wq"])
    overlap = prefix(_RBO_TERMS_A).join(
        prefix(_RBO_TERMS_B), ["doc_id", "d"]
    )
    return (
        overlap.join(F.broadcast(wdf), "d")
        .agg(F.coalesce(F.sum("wq"), F.lit(0)).alias("rbo_q"))
        .select("rbo_q", F.expr("rbo_q div 1000").alias("rbo_ppm"))
    )


def q_funnel_ttc(spark: SparkSession, sf_dir: str) -> DataFrame:
    # time-to-convert distribution: per user, days from first signup
    # to the first purchase AT OR AFTER it; histogram over day deltas
    # (the "how long does conversion take" product question funnel
    # counts alone don't answer). Two conditional min-aggs + one
    # count agg — no window, no join.
    ev = _events(spark, sf_dir)
    day = F.expr("datediff(CAST(ts AS DATE), DATE '1970-01-01')")
    per_user = ev.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "signup", day)
        ).alias("s_day"),
    )
    conv = (
        ev.select("user_id", F.col("event_type").alias("et"), day.alias("d"))
        .join(per_user.where(F.col("s_day").isNotNull()), "user_id")
        .where((F.col("et") == "purchase") & (F.col("d") >= F.col("s_day")))
        .groupBy("user_id", "s_day")
        .agg(F.min("d").alias("c_day"))
    )
    return (
        conv.select((F.col("c_day") - F.col("s_day")).alias("days"))
        .groupBy("days")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("days")
    )


def q_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # revenue-concentration (Lorenz) curve: customers ranked by spend
    # via dense_ids (no global window), bucketed into deciles, each
    # decile's share of total revenue in ppm — the curve behind
    # gini_orders' summary scalar.
    from det_module_spark.operators.ids import dense_ids

    od = load_table(spark, sf_dir, "orders")
    spend = od.groupBy("o_custkey").agg(
        F.sum(_cents("o_totalprice")).alias("cents")
    )
    # unique ascending-order key: (cents, custkey)
    keyed = spend.select(
        (F.col("cents") * 10000000 + F.col("o_custkey")).alias("okey"),
        "cents",
    )
    ranked = dense_ids(keyed, "okey", out="rid")
    n = ranked.count()
    return (
        ranked.select(
            F.expr(f"rid * 10 div {n}").alias("decile"), "cents"
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.sum("cents").alias("cents"),
        )
        .crossJoin(
            F.broadcast(
                spend.agg(F.sum("cents").alias("total_cents"))
            )
        )
        .select(
            "decile",
            "n_cust",
            "cents",
            F.expr("cents * 1000000 div total_cents").alias(
                "share_ppm"
            ),
        )
        .orderBy("decile")
    )


# --------------------------------------------------------------------
# Preference, agreement and eval-statistics queries. Each was checked
# against its DuckDB twin in tests/test_r9_queue.py, test_r10_queue.py,
# test_r11_queue.py or test_evalrank.py before it entered
# queries()/oracle_sql().
# --------------------------------------------------------------------


def _supplier_comps(
    spark: SparkSession, sf_dir: str, board: bool = False
) -> DataFrame:
    # preference "games" synthesized from lineitem — within each
    # order, every pair of line numbers with distinct suppliers and
    # distinct prices is one game, won by the pricier line's supplier
    # (SQL twin below). ``board`` keeps the fixed leaderboard slice,
    # suppliers 1..100 (_BOARD_COMPS_SQL): an SF-INDEPENDENT board for
    # the triad queries (preference_cycles, cycles_by_gap), whose
    # enumeration is inherently ~C(board, 3) — TPC-H grows the
    # supplier dim with SF, but their work must scale with the GAMES a
    # fixed board played. The suppkey filter sits BEFORE the order
    # self-join so it reaches both parquet scans.
    li = load_table(spark, sf_dir, "lineitem")
    if board:
        li = li.filter(F.col("l_suppkey") <= 100)
    li = li.select(
        "l_orderkey", "l_linenumber", "l_suppkey", "l_extendedprice"
    )
    a = li.select(
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln_a"),
        F.col("l_suppkey").alias("sk_a"),
        F.col("l_extendedprice").alias("pr_a"),
    )
    b = li.select(
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln_b"),
        F.col("l_suppkey").alias("sk_b"),
        F.col("l_extendedprice").alias("pr_b"),
    )
    return (
        a.join(b, "ok")
        .filter(F.col("ln_a") < F.col("ln_b"))
        .filter(
            (F.col("sk_a") != F.col("sk_b"))
            & (F.col("pr_a") != F.col("pr_b"))
        )
        .select(
            F.when(F.col("pr_a") > F.col("pr_b"), F.col("sk_a"))
            .otherwise(F.col("sk_b"))
            .alias("winner"),
            F.when(F.col("pr_a") > F.col("pr_b"), F.col("sk_b"))
            .otherwise(F.col("sk_a"))
            .alias("loser"),
        )
    )


_SUPPLIER_COMPS_SQL = """
      SELECT CASE WHEN a.l_extendedprice > b.l_extendedprice
                  THEN a.l_suppkey ELSE b.l_suppkey END AS winner,
             CASE WHEN a.l_extendedprice > b.l_extendedprice
                  THEN b.l_suppkey ELSE a.l_suppkey END AS loser
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey
       AND a.l_linenumber < b.l_linenumber
      WHERE a.l_suppkey <> b.l_suppkey
        AND a.l_extendedprice <> b.l_extendedprice"""


_BOARD_COMPS_SQL = """
      SELECT CASE WHEN a.l_extendedprice > b.l_extendedprice
                  THEN a.l_suppkey ELSE b.l_suppkey END AS winner,
             CASE WHEN a.l_extendedprice > b.l_extendedprice
                  THEN b.l_suppkey ELSE a.l_suppkey END AS loser
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey
       AND a.l_linenumber < b.l_linenumber
      WHERE a.l_suppkey <> b.l_suppkey
        AND a.l_extendedprice <> b.l_extendedprice
        AND a.l_suppkey <= 100 AND b.l_suppkey <= 100"""


def q_bt_strengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Bradley-Terry preference fit (operators/btrank.py) over the
    # synthesized supplier games. 3 exact integer MM rounds; output
    # one (player, theta_q, wins, games) per supplier.
    from det_module_spark.operators.btrank import bt_strengths

    comps = _supplier_comps(spark, sf_dir)
    return bt_strengths(comps, rounds=3).orderBy("player")


def _bt_strengths_sql() -> str:
    from det_module_spark.operators.btrank import bt_sql

    return bt_sql(_SUPPLIER_COMPS_SQL, rounds=3)


def q_elo_ratings(spark: SparkSession, sf_dir: str) -> DataFrame:
    # batched Elo (operators/btrank.py elo_ratings) over the same
    # supplier games as bt_strengths — the online-rating sibling: two
    # synchronous K=32 passes, BIGINT milli-point ratings, the
    # logistic expectation quantized to basis points before any
    # arithmetic (docstring has the 1-ulp analysis).
    from det_module_spark.operators.btrank import elo_ratings

    comps = _supplier_comps(spark, sf_dir)
    return elo_ratings(comps, rounds=2).orderBy("player")


def _elo_ratings_sql() -> str:
    from det_module_spark.operators.btrank import elo_sql

    return elo_sql(_SUPPLIER_COMPS_SQL, rounds=2)


def q_win_rate_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    # head-to-head leaderboard table (operators/prefstats.py) over
    # the supplier games: per unordered pair, games, wins, exact ppm
    # win rate and IEEE-exact Agresti-Coull (z=2) bounds — the
    # descriptive table a preference pipeline reads before any
    # rating fit. min_games=3 keeps 1-game noise rows out.
    from det_module_spark.operators.prefstats import win_rate_matrix

    comps = _supplier_comps(spark, sf_dir)
    return win_rate_matrix(comps, min_games=3).orderBy("lo", "hi")


def _win_rate_matrix_sql() -> str:
    from det_module_spark.operators.prefstats import win_rate_matrix_sql

    return win_rate_matrix_sql(_SUPPLIER_COMPS_SQL, min_games=3)


def q_length_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    # verbosity-bias audit (operators/prefstats.py length_bias):
    # synthesize doc-vs-doc "preferences" — consecutive doc_ids
    # compete, the one with more DISTINCT tokens wins (ties dropped)
    # — then measure how often the longer text wins, by
    # length-difference bucket. The RLHF QC that catches a
    # length-correlated labeling artifact.
    from det_module_spark.operators.prefstats import length_bias

    dw = F.expr(
        "size(array_distinct(filter(split(text, ' '), x -> x != '')))"
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.length("text").cast("long").alias("len"),
        dw.cast("long").alias("dw"),
    )
    nxt = docs.select(
        (F.col("doc_id") - 1).alias("doc_id"),
        F.col("len").alias("len_b"),
        F.col("dw").alias("dw_b"),
    )
    comps = (
        docs.join(nxt, "doc_id")
        .filter(F.col("dw") != F.col("dw_b"))
        .select(
            F.when(F.col("dw") > F.col("dw_b"), F.col("len"))
            .otherwise(F.col("len_b"))
            .alias("winner_len"),
            F.when(F.col("dw") > F.col("dw_b"), F.col("len_b"))
            .otherwise(F.col("len"))
            .alias("loser_len"),
        )
    )
    return length_bias(comps, bucket_width=50, max_bucket=5).orderBy(
        "bucket"
    )


def _length_bias_sql() -> str:
    from det_module_spark.operators.prefstats import length_bias_sql

    comps = """
      WITH d AS (
        SELECT doc_id, CAST(LENGTH(text) AS BIGINT) AS len,
               CAST((SELECT COUNT(DISTINCT t)
                     FROM unnest(string_split(text, ' ')) AS u(t)
                     WHERE LENGTH(t) > 0) AS BIGINT) AS dw
        FROM documents)
      SELECT CASE WHEN a.dw > b.dw THEN a.len ELSE b.len END
               AS winner_len,
             CASE WHEN a.dw > b.dw THEN b.len ELSE a.len END
               AS loser_len
      FROM d a JOIN d b ON b.doc_id = a.doc_id + 1
      WHERE a.dw <> b.dw"""
    return length_bias_sql(comps, bucket_width=50, max_bucket=5)


def q_rank_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    # do the two rating systems agree? Spearman rank correlation
    # (operators/prefstats.spearman_rho — tie-corrected via exact
    # doubled average ranks, distributed two-phase prefix sums from
    # ids.global_cumsum, BIGINT moments with an enforced n-bound)
    # between the Bradley-Terry θ and the batched-Elo rating over the
    # same supplier games. The ranker-agreement QC an eval pipeline
    # runs when swapping rating systems.
    from det_module_spark.operators.btrank import bt_strengths, elo_ratings
    from det_module_spark.operators.prefstats import pair_counts, spearman_rho

    # ONE corpus aggregation feeds both fits (optimization r10, guide
    # §2.4): pair_counts materializes the (lo, hi, n, w_lo) table once
    # where the old shape checkpointed the raw games and let each fit
    # re-aggregate them (3 corpus-scale scans → 1). Sharing is exact
    # here because _supplier_comps filters sk_a != sk_b, so the log
    # has no self-games (bt_strengths' pair_table contract).
    comps = _supplier_comps(spark, sf_dir)
    pc = pair_counts(comps)
    # The two fits are INDEPENDENT chains of small per-round jobs over
    # the same materialized pair table; built sequentially their eager
    # per-round checkpoints serialize ~10 tiny stages end-to-end.
    # Overlap them on two driver threads (guide §2.6: actions are only
    # sequential because the driver calls them sequentially) — wall is
    # max(bt, elo) instead of bt + elo. Each fit's result is
    # deterministic regardless of scheduling.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_bt = pool.submit(
            lambda: bt_strengths(comps, rounds=3, pair_table=pc).select(
                "player", "theta_q"
            )
        )
        f_elo = pool.submit(
            lambda: elo_ratings(comps, rounds=2, pair_table=pc).select(
                "player", "rating_milli"
            )
        )
        bt, elo = f_bt.result(), f_elo.result()
    # player-dim frame consumed four times inside spearman_rho (two
    # rank-count aggs + two rank joins back) — materialize it once so
    # the bt⋈elo stitch joins don't replan per consumer (optimization
    # r10, guide §2.4)
    both = bt.join(elo, "player").localCheckpoint(eager=True)
    return spearman_rho(both, "theta_q", "rating_milli")


def _rank_agreement_sql() -> str:
    from det_module_spark.operators.btrank import bt_sql, elo_sql
    from det_module_spark.operators.prefstats import spearman_rho_sql

    pairs = f"""
      SELECT bt.theta_q AS x, elo.rating_milli AS y
      FROM ({bt_sql(_SUPPLIER_COMPS_SQL, rounds=3)}) bt
      JOIN ({elo_sql(_SUPPLIER_COMPS_SQL, rounds=2)}) elo
        ON elo.player = bt.player"""
    return spearman_rho_sql(pairs)


def _abstaining_votes(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The three deterministic abstaining order "raters" shared by
    # q_krippendorff_alpha and q_weighted_consensus (VERDICT r9 #2:
    # one derivation, both queries re-check together): priority rater
    # skips o_orderkey%11=0, price skips %13=0 (three categories),
    # parity skips %7=0 — unpairable units and per-unit m in {1,2,3}
    # all exercise. → (item, rater, label); krippendorff selects only
    # (item, label) internally.
    o = load_table(spark, sf_dir, "orders")
    item = F.col("o_orderkey").alias("item")
    return (
        o.select(
            item,
            F.lit("priority").alias("rater"),
            F.when(
                F.col("o_orderkey") % 11 == 0, F.lit(None).cast("string")
            )
            .when(
                F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "hot"
            )
            .otherwise("cold")
            .alias("label"),
        )
        .unionByName(
            o.select(
                item,
                F.lit("price").alias("rater"),
                F.when(
                    F.col("o_orderkey") % 13 == 0,
                    F.lit(None).cast("string"),
                )
                .when(F.col("o_totalprice") > 200000.0, "hot")
                .when(F.col("o_totalprice") < 100000.0, "cold")
                .otherwise("warm")
                .alias("label"),
            )
        )
        .unionByName(
            o.select(
                item,
                F.lit("parity").alias("rater"),
                F.when(
                    F.col("o_orderkey") % 7 == 0,
                    F.lit(None).cast("string"),
                )
                .when(F.col("o_orderkey") % 2 == 0, "hot")
                .otherwise("cold")
                .alias("label"),
            )
        )
    )


def q_weighted_consensus(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One hard-EM round of accuracy-weighted relabeling
    # (operators/agreement.weighted_consensus) over the same three
    # abstaining order "raters" as krippendorff_alpha (shared
    # _abstaining_votes derivation). With abstentions, 1-1
    # disagreements between raters of unequal accuracy flip from the
    # lexicographic tie-break to the better rater ("changed" rows).
    # Gated by tests/test_r10_queue.py with the driver's own
    # comparison before registration.
    from det_module_spark.operators.agreement import weighted_consensus

    return weighted_consensus(_abstaining_votes(spark, sf_dir)).orderBy(
        "item"
    )


_ABSTAINING_VOTES_SQL = """
      SELECT o_orderkey AS item, 'priority' AS rater,
             CASE WHEN o_orderkey % 11 = 0 THEN NULL
                  WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 'hot' ELSE 'cold' END AS label
      FROM orders
      UNION ALL
      SELECT o_orderkey, 'price',
             CASE WHEN o_orderkey % 13 = 0 THEN NULL
                  WHEN o_totalprice > 200000.0 THEN 'hot'
                  WHEN o_totalprice < 100000.0 THEN 'cold'
                  ELSE 'warm' END
      FROM orders
      UNION ALL
      SELECT o_orderkey, 'parity',
             CASE WHEN o_orderkey % 7 = 0 THEN NULL
                  WHEN o_orderkey % 2 = 0 THEN 'hot'
                  ELSE 'cold' END
      FROM orders"""


def _weighted_consensus_sql() -> str:
    from det_module_spark.operators.agreement import (
        weighted_consensus_sql,
    )

    return weighted_consensus_sql(_ABSTAINING_VOTES_SQL)


def q_supplier_rank_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Kendall tau-b between two supplier
    # rankings — financial standing (account balance) vs sales volume
    # (total lineitem revenue). The bounded-leaderboard rank
    # correlation (operators/prefstats.kendall_tau: all-pairs with a
    # loud quadratic guard; suppliers are a dimension, |S| = 100·SF).
    # Gated by tests/test_r10_queue.py with the driver's comparison.
    from det_module_spark.operators.prefstats import kendall_tau

    sup = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("k"),
        F.expr("CAST(FLOOR(s_acctbal * 100 + 0.5) AS BIGINT)").alias("x"),
    )
    rev = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_suppkey").alias("k"))
        .agg(
            F.expr(
                "CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) "
                "AS BIGINT)) AS BIGINT)"
            ).alias("y")
        )
    )
    return kendall_tau(sup.join(rev, "k"), "x", "y")


def _supplier_rank_tau_sql() -> str:
    from det_module_spark.operators.prefstats import kendall_tau_sql

    return kendall_tau_sql(
        """
      SELECT CAST(FLOOR(s.s_acctbal * 100 + 0.5) AS BIGINT) AS x,
             r.y
      FROM supplier s
      JOIN (SELECT l_suppkey,
                   CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5)
                                 AS BIGINT)) AS BIGINT) AS y
            FROM lineitem GROUP BY l_suppkey) r
        ON r.l_suppkey = s.s_suppkey"""
    )


def q_preference_cycles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # transitivity audit of the supplier
    # preference log (operators/prefstats.preference_cycles) — the
    # share of circular triads among decisive head-to-head triples,
    # the consistency check that justifies (or indicts) the scalar
    # bt_strengths/elo_ratings fits over the same games. Gated by
    # tests/test_r10_queue.py with the driver's comparison. Runs on
    # the FIXED 100-supplier board (``board=True``): triad work is
    # ~C(board, 3) by nature, and the board must not grow with SF —
    # the corpus pass over the games stays full-size.
    from det_module_spark.operators.prefstats import preference_cycles

    return preference_cycles(_supplier_comps(spark, sf_dir, board=True))


def _preference_cycles_sql() -> str:
    from det_module_spark.operators.prefstats import (
        preference_cycles_sql,
    )

    return preference_cycles_sql(_BOARD_COMPS_SQL)


def q_elo_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Rating-scale calibration (prefstats.rating_calibration): bucket
    # the supplier pairs by fitted-Elo gap and compare the favorite's
    # ACTUAL win share with the logistic's PREDICTED one — the
    # post-fit audit that tells you whether elo_ratings' scale can be
    # read as win probabilities. Composes the elo_ratings fit output
    # (player-dim bounded) with the shared pair_counts aggregation.
    from det_module_spark.operators.btrank import elo_ratings
    from det_module_spark.operators.prefstats import (
        pair_counts,
        rating_calibration,
    )

    # ONE corpus aggregation serves the fit AND the audit
    # (optimization r10, guide §2.4): the old shape ran the lineitem
    # self-join + pair aggregation twice — once inside elo_ratings,
    # once inside rating_calibration's pair_counts.
    comps = _supplier_comps(spark, sf_dir)
    pc = pair_counts(comps)
    ratings = elo_ratings(comps, pair_table=pc).select(
        "player", "rating_milli"
    )
    # 1-point buckets: the 2-round K=32 fit spreads ratings only a
    # few points on this log, so the default 10-point bucket would
    # collapse the curve to one row
    return rating_calibration(
        comps, ratings, bucket_width=1_000, pair_table=pc
    ).orderBy("gap_bucket")


def _elo_calibration_sql() -> str:
    from det_module_spark.operators.btrank import elo_sql
    from det_module_spark.operators.prefstats import (
        rating_calibration_sql,
    )

    return rating_calibration_sql(
        _SUPPLIER_COMPS_SQL, elo_sql(_SUPPLIER_COMPS_SQL), bucket_width=1_000
    )


def q_pairwise_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    # comparison-matrix completeness audit
    # (prefstats.pairwise_coverage) over the supplier games — how
    # much of the C(n,2) head-to-head matrix the log actually
    # sampled, and how much of it with >= 5 games. Gated by
    # tests/test_r11_queue.py against its DuckDB twin.
    from det_module_spark.operators.prefstats import pairwise_coverage

    return pairwise_coverage(_supplier_comps(spark, sf_dir), min_games=5)


def _pairwise_coverage_sql() -> str:
    from det_module_spark.operators.prefstats import pairwise_coverage_sql

    return pairwise_coverage_sql(_SUPPLIER_COMPS_SQL, min_games=5)


def q_player_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-player upset profile
    # (prefstats.player_consistency) — the share of each supplier's
    # decisive head-to-heads that contradict the Copeland ordering,
    # the per-player drill-down of preference_cycles' global number.
    # Gated by tests/test_r11_queue.py.
    from det_module_spark.operators.prefstats import player_consistency

    return player_consistency(_supplier_comps(spark, sf_dir)).orderBy(
        "player"
    )


def _player_consistency_sql() -> str:
    from det_module_spark.operators.prefstats import (
        player_consistency_sql,
    )

    return player_consistency_sql(_SUPPLIER_COMPS_SQL)


def q_copeland_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Copeland pairwise leaderboard (prefstats.copeland_ranking) over
    # the supplier games: majority-of-head-to-heads scoring, the
    # game-count-robust companion to bt_strengths/elo_ratings —
    # exact BIGINT (copeland2 = 2*wins + ties), one hash agg over the
    # shared pair_counts table.
    from det_module_spark.operators.prefstats import copeland_ranking

    return copeland_ranking(_supplier_comps(spark, sf_dir)).orderBy(
        "player"
    )


def _copeland_ranking_sql() -> str:
    from det_module_spark.operators.prefstats import copeland_ranking_sql

    return copeland_ranking_sql(_SUPPLIER_COMPS_SQL)


def q_cycles_by_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Gap-conditioned transitivity (prefstats.cycles_by_gap): the
    # preference_cycles cyclic share broken down by Copeland-score
    # closeness — is the supplier log's intransitivity concentrated
    # in near-tied triples (benign) or flat across gaps (rubric
    # noise)? Exact integer counts per gap bucket. Runs on the FIXED
    # 100-supplier board (``board=True``): per-triad gap
    # classification is inherently an enumeration (~C(board, 3)), so
    # the board must not grow with SF — the corpus pass over the games
    # stays full.
    from det_module_spark.operators.prefstats import cycles_by_gap

    return cycles_by_gap(
        _supplier_comps(spark, sf_dir, board=True)
    ).orderBy("gap_bucket")


def _cycles_by_gap_sql() -> str:
    from det_module_spark.operators.prefstats import cycles_by_gap_sql

    return cycles_by_gap_sql(_BOARD_COMPS_SQL)


def q_krippendorff_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Krippendorff's alpha (operators/agreement.py) — kappa's
    # missing-label generalization, over the shared _abstaining_votes
    # raters (VERDICT r9 #2: one derivation with q_weighted_consensus;
    # the extra rater column is dropped by krippendorff's internal
    # (item, label) projection). Unpairable units and per-unit m in
    # {1,2,3} all exercise; the price rater's three categories give
    # D_e a real category distribution.
    from det_module_spark.operators.agreement import krippendorff_alpha

    return krippendorff_alpha(_abstaining_votes(spark, sf_dir))


def _krippendorff_alpha_sql() -> str:
    from det_module_spark.operators.agreement import (
        krippendorff_alpha_sql,
    )

    return krippendorff_alpha_sql(_ABSTAINING_VOTES_SQL)


def q_bucket_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cross-engine-exact bucketed-layout sizing of the documents
    # table (operators/layout.py bucket_plan): exact integer widths,
    # power-of-two bucket count, md5-bucket skew in ppm.
    from det_module_spark.operators.layout import bucket_plan

    docs = load_table(spark, sf_dir, "documents")
    return bucket_plan(
        docs,
        F.col("doc_id"),
        ["text", "lang", "source"],
        fixed_bytes=16,
        target_bucket_bytes=8192,
    )


def _bucket_plan_sql() -> str:
    from det_module_spark.operators.layout import bucket_plan_sql

    return bucket_plan_sql(
        "documents",
        "doc_id",
        ["text", "lang", "source"],
        fixed_bytes=16,
        target_bucket_bytes=8192,
    )


def q_label_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    # inter-annotator agreement QC (operators/agreement.py): two
    # deterministic "labelers" of orders — priority-based urgency vs
    # price-based urgency (fixed 150k threshold) — scored with
    # exact-integer Cohen's kappa. The preference-label QC gate.
    from det_module_spark.operators.agreement import cohens_kappa

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("item"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "hot"
        )
        .otherwise("cold")
        .alias("la"),
        F.when(F.col("o_totalprice") > 150000.0, "hot")
        .otherwise("cold")
        .alias("lb"),
    )
    return cohens_kappa(orders, "item", "la", "lb")


def _label_agreement_sql() -> str:
    from det_module_spark.operators.agreement import cohens_kappa_sql

    return cohens_kappa_sql(
        """
      SELECT o_orderkey AS item,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 'hot' ELSE 'cold' END AS la,
             CASE WHEN o_totalprice > 150000.0
                  THEN 'hot' ELSE 'cold' END AS lb
      FROM orders"""
    )


def q_rater_reliability(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Dawid-Skene-lite annotator QC (operators/agreement.py): three
    # deterministic "raters" label each order hot/cold (priority,
    # price, order-key parity as the noisy third); per-rater accuracy
    # against the majority consensus in exact ppm.
    from det_module_spark.operators.agreement import rater_accuracy

    o = load_table(spark, sf_dir, "orders")
    hotcold = lambda c: F.when(c, "hot").otherwise("cold")  # noqa: E731
    votes = (
        o.select(
            F.col("o_orderkey").alias("item"),
            F.lit("priority").alias("rater"),
            hotcold(
                F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
            ).alias("label"),
        )
        .unionByName(
            o.select(
                F.col("o_orderkey").alias("item"),
                F.lit("price").alias("rater"),
                hotcold(F.col("o_totalprice") > 150000.0).alias("label"),
            )
        )
        .unionByName(
            o.select(
                F.col("o_orderkey").alias("item"),
                F.lit("parity").alias("rater"),
                hotcold(F.col("o_orderkey") % 2 == 0).alias("label"),
            )
        )
    )
    return rater_accuracy(votes).orderBy("rater")


def _rater_reliability_sql() -> str:
    from det_module_spark.operators.agreement import rater_accuracy_sql

    return rater_accuracy_sql(
        """
      SELECT o_orderkey AS item, 'priority' AS rater,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 'hot' ELSE 'cold' END AS label
      FROM orders
      UNION ALL
      SELECT o_orderkey, 'price',
             CASE WHEN o_totalprice > 150000.0
                  THEN 'hot' ELSE 'cold' END
      FROM orders
      UNION ALL
      SELECT o_orderkey, 'parity',
             CASE WHEN o_orderkey % 2 = 0 THEN 'hot' ELSE 'cold' END
      FROM orders"""
    )


def q_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Fleiss' multi-rater kappa
    # (agreement.fleiss_kappa) over the SAME shared _abstaining_votes
    # derivation krippendorff_alpha and weighted_consensus read — the
    # third agreement lens (per-item pairwise agreement vs squared
    # prevalences), variable-m generalization. Gated by
    # tests/test_r11_queue.py with the driver's own comparison.
    from det_module_spark.operators.agreement import fleiss_kappa

    return fleiss_kappa(_abstaining_votes(spark, sf_dir))


def _fleiss_kappa_sql() -> str:
    from det_module_spark.operators.agreement import fleiss_kappa_sql

    return fleiss_kappa_sql(_ABSTAINING_VOTES_SQL)


def _eval_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Sample-level eval log synthesized from lineitem: each line is
    # one attempt at task l_partkey, "correct" iff l_quantity >= 30
    # (~42% base rate; n per task ≈ 30 at any SF — the HumanEval
    # shape). Shared by pass_at_k; the per-(task, model) variants
    # below aggregate it. SQL twin: _EVAL_SAMPLES_SQL.
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_partkey").alias("task"),
        F.col("l_suppkey").alias("model"),
        (F.col("l_quantity") >= 30).cast("long").alias("correct"),
    )


_EVAL_SAMPLES_SQL = """
      SELECT l_partkey AS task, l_suppkey AS model,
             CASE WHEN l_quantity >= 30 THEN 1 ELSE 0 END AS correct
      FROM lineitem"""


def _eval_attempts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-(task, model) eval matrix: a (part, supplier) pair may ship
    # several lines; the model "solves" the task if ANY of its
    # attempts is correct (max) — unique per (task, model), the
    # McNemar / item-analysis contract. SQL twin: _EVAL_ATTEMPTS_SQL.
    return (
        _eval_samples(spark, sf_dir)
        .groupBy("task", "model")
        .agg(F.max("correct").cast("long").alias("correct"))
    )


_EVAL_ATTEMPTS_SQL = f"""
      SELECT task, model, CAST(MAX(correct) AS BIGINT) AS correct
      FROM ({_EVAL_SAMPLES_SQL}) GROUP BY task, model"""


def q_pass_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    # unbiased pass@k estimator
    # (evalstats.pass_at_k, the Chen et al. 2021 HumanEval
    # estimator) at k in {1,2,4,8} over the sample-level eval log —
    # exact stepwise-integer binomial ratios, one corpus pass.
    # Gated by tests/test_r11_queue.py.
    from det_module_spark.operators.evalstats import pass_at_k

    return pass_at_k(_eval_samples(spark, sf_dir), ks=(1, 2, 4, 8))


def _pass_at_k_sql() -> str:
    from det_module_spark.operators.evalstats import pass_at_k_sql

    return pass_at_k_sql(_EVAL_SAMPLES_SQL, ks=(1, 2, 4, 8))


def q_mcnemar_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # McNemar's paired test
    # (evalstats.mcnemar_pairs) over every supplier-model pair on
    # their COMMON tasks — the discordant-cell significance check
    # behind "is A actually better than B?". Bounded to suppliers
    # 1..25 so the pair matrix stays ≤ 300 rows (the full 100-model
    # matrix is win_rate_matrix's job; McNemar reads the matrix
    # diagonal-free). Gated by tests/test_r11_queue.py.
    from det_module_spark.operators.evalstats import mcnemar_pairs

    att = _eval_attempts(spark, sf_dir).filter(F.col("model") <= 25)
    return mcnemar_pairs(att)


def _mcnemar_pairs_sql() -> str:
    from det_module_spark.operators.evalstats import mcnemar_pairs_sql

    return mcnemar_pairs_sql(
        f"SELECT * FROM ({_EVAL_ATTEMPTS_SQL}) WHERE model <= 25"
    )


def q_item_discrimination(spark: SparkSession, sf_dir: str) -> DataFrame:
    # classical-test-theory item analysis
    # (evalstats.item_discrimination) — per-task difficulty +
    # point-biserial discrimination against model ability, the
    # eval-curation "drop the noise items" primitive. Bounded to
    # tasks 1..200 for a stable small output; moments are exact
    # BIGINT, only the final sqrt is (deterministic) IEEE.
    # Gated by tests/test_r11_queue.py.
    from det_module_spark.operators.evalstats import item_discrimination

    att = _eval_attempts(spark, sf_dir).filter(F.col("task") <= 200)
    return item_discrimination(att)


def _item_discrimination_sql() -> str:
    from det_module_spark.operators.evalstats import (
        item_discrimination_sql,
    )

    return item_discrimination_sql(
        f"SELECT * FROM ({_EVAL_ATTEMPTS_SQL}) WHERE task <= 200"
    )


_AUC_SCORED_SQL = """
      SELECT CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
               AS score,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS label
      FROM lineitem"""


def q_auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact rank-sum ROC-AUC
    # (evalstats.auc_roc) of "price predicts returned" over lineitem
    # — score = integer cents, label = returnflag R. Mann-Whitney
    # identity over the distinct-score count table + the
    # global_cumsum two-phase prefix (no corpus sort, no global
    # window). Gated by tests/test_evalrank.py.
    from det_module_spark.operators.evalstats import auc_roc

    li = load_table(spark, sf_dir, "lineitem")
    scored = li.select(
        _cents("l_extendedprice").alias("score"),
        (F.col("l_returnflag") == "R").cast("long").alias("label"),
    )
    return auc_roc(scored)


def _auc_roc_sql() -> str:
    from det_module_spark.operators.evalstats import auc_roc_sql

    return auc_roc_sql(_AUC_SCORED_SQL)


def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    # two-sample Kolmogorov-Smirnov drift
    # statistic (evalstats.ks_test) — returned vs kept lineitem price
    # distributions, exact integer D over the common n_a*n_b
    # denominator. Gated by tests/test_evalrank.py.
    from det_module_spark.operators.evalstats import ks_test

    li = load_table(spark, sf_dir, "lineitem")
    samples = li.select(
        _cents("l_extendedprice").alias("value"),
        (F.col("l_returnflag") == "R").cast("long").alias("flag"),
    )
    return ks_test(samples)


def _ks_test_sql() -> str:
    from det_module_spark.operators.evalstats import ks_test_sql

    return ks_test_sql(
        """
      SELECT CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
               AS value,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS flag
      FROM lineitem"""
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the reliability zonal extract (the aid-data triple) at
    sf0.001; driver checks rows>0."""
    return _zonal("reliability")(spark, "/root/testdata/sf0.001")


# Correctness window: the correctness check (CORRECTNESS_r*.json)
# records only the FIRST 50 registry entries, so queries() computes
# which 50 go first:
#   1. _CHANGED_PATHS — registered queries whose plan or shared code
#      changed since their latest correctness record, in declared order;
#   2. the remaining slots drain OLDEST-RECORD-FIRST: names
#      sorted by their latest round in CORRECTNESS_r*.json, then by
#      name (names with no record sort first).
# The registry keeps its own order after the window.
# the preference family: bt_strengths/elo_ratings and the prefstats
# queries now share one pair aggregation, endpoint explode and lookup,
# and the supplier-games builder is one function
_CHANGED_PATHS = [
    "bt_strengths",
    "elo_ratings",
    "rank_agreement",
    "elo_calibration",
    "win_rate_matrix",
    "length_bias",
    "supplier_rank_tau",
    "preference_cycles",
    "copeland_ranking",
    "cycles_by_gap",
    "pairwise_coverage",
    "player_consistency",
]
_WINDOW = 50


def _latest_rounds() -> dict[str, int]:
    """Latest CORRECTNESS_r{N}.json round that recorded each query."""
    import glob
    import json
    import os
    import re

    latest: dict[str, int] = {}
    here = os.path.dirname(os.path.abspath(__file__))
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"_r(\d+)\.json$", path).group(1))
        with open(path) as f:
            for q in json.load(f):
                latest[q] = max(latest.get(q, 0), rnd)
    return latest


def _rotate(full: dict) -> dict:
    latest = _latest_rounds()
    head = [q for q in _CHANGED_PATHS if q in full]
    drain = sorted(
        (q for q in full if q not in head), key=lambda q: (latest.get(q, 0), q)
    )
    window = (head + drain)[:_WINDOW]
    return {k: full[k] for k in window} | {
        k: v for k, v in full.items() if k not in window
    }


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # NOTE: dict order is the correctness-check order; _rotate moves
    # the correctness window (see above) to the front, and the literal below
    # keeps its grouping for readability.
    return _rotate({
        # --- round-5 additions ---
        "funnel_ttc": q_funnel_ttc,
        "lorenz_deciles": q_lorenz_deciles,
        "embedding_drift": q_embedding_drift,
        "rbo_compare": q_rbo_compare,
        "corpus_pipeline_v3": q_corpus_pipeline_v3,
        "ndcg_eval": q_ndcg_eval,
        "logrank_test": q_logrank_test,
        "knn_classify": q_knn_classify,
        "logreg_calibration": q_logreg_calibration,
        "logreg_fit": q_logreg_fit,
        "rolling_trend": q_rolling_trend,
        "pit_enrich": q_pit_enrich,
        "distinct_cube": q_distinct_cube,
        "ppr_scores": q_ppr_scores,
        "temporal_reach": q_temporal_reach,
        "clustering_coeff": q_clustering_coeff,
        "itemsets3": q_itemsets3,
        "layout_pruning": q_layout_pruning,
        "hex_bin": q_hex_bin,
        "markov_ksteps": q_markov_ksteps,
        "cdc_chunks": q_cdc_chunks,
        "json_schema": q_json_schema,
        "item_cf": q_item_cf,
        "kaplan_meier": q_kaplan_meier,
        "hilbert_key": q_hilbert_key,
        "url_normalize": q_url_normalize,
        "domain_caps": q_domain_caps,
        "cuped_adjust": q_cuped,
        "t_closeness": q_t_closeness,
        "wasserstein_drift": q_wasserstein_drift,
        "graph_voronoi": q_graph_voronoi,
        "growth_accounting": q_growth_accounting,
        "weighted_walks": q_weighted_walks,
        "session_metrics": q_session_metrics,
        "matryoshka_audit": q_matryoshka_audit,
        "attribution_linear": q_attribution_linear,
        "oov_rate": q_oov_rate,
        "ks_drift": q_ks_drift,
        "colbert_maxsim": q_colbert_maxsim,
        "nucleus_cut": q_nucleus_cut,
        "pr_curve": q_pr_curve,
        "mutual_info": q_mutual_info,
        "temporal_split": q_temporal_split,
        "bigram_pmi": q_bigram_pmi,
        "degree_assort": q_degree_assort,
        "dau_wau": q_dau_wau,
        "gini_orders": q_gini_orders,
        "bootstrap_ci": q_bootstrap_ci,
        "partition_checksums": q_partition_checksums,
        "simpson_audit": q_simpson_audit,
        "rendezvous_shards": q_rendezvous_shards,
        "doc_entropy": q_doc_entropy,
        "kfold_balance": q_kfold_balance,
        "blocking_eval": q_blocking_eval,
        "ewma_smooth": q_ewma_smooth,
        "cusum_shift": q_cusum_shift,
        "random_walk_corpus": q_random_walk_corpus,
        "feature_hash": q_feature_hash,
        "negative_sample": q_negative_sample,
        "pattern_match": q_pattern_match,
        "streak_days": q_streak_days,
        "interval_merge": q_interval_merge,
        "precede_pairs": q_precede_pairs,
        "adamic_adar": q_adamic_adar,
        "sq8_error": q_sq8_error,
        "unicode_normalize": q_unicode_normalize,
        "rrf_fusion": q_rrf_fusion,
        "sssp_dist": q_sssp_dist,
        "hits_scores": q_hits_scores,
        "delta_dedup": q_delta_dedup,
        "acf_lags": q_acf_lags,
        "chi_square": q_chi_square,
        "attribution": q_attribution,
        "log_as_of": q_log_as_of,
        "quantile_norm": q_quantile_norm,
        "woe_bins": q_woe_bins,
        "target_encode": q_target_encode,
        "retrieval_pipeline": q_retrieval_pipeline,
        "mmr_select": q_mmr_select,
        "snb_pairs": q_snb_pairs,
        "phrase_search": q_phrase_search,
        "k_core": q_k_core,
        "skyline_frontier": q_skyline_frontier,
        "bfs_reach": q_bfs_reach,
        "bom_explode": q_bom_explode,
        "snapshot_diff": q_snapshot_diff,
        "l_diversity": q_l_diversity,
        "dp_noisy_counts": q_dp_noisy_counts,
        "line_dedup": q_line_dedup,
        "line_dedup_keep_first": q_line_dedup_keep_first,
        "nb_classify": q_nb_classify,
        "media_ahash_pairs": q_media_ahash_pairs,
        "dsir_select": q_dsir_select,
        "bm25_retrieval": q_bm25_retrieval,
        "kmeans_clusters": q_kmeans_clusters,
        "corpus_pipeline_v2": q_corpus_pipeline_v2,
        "agg_delta_retract": q_agg_delta_retract,
        # --- round-9 additions (preference/labeling QC, built r8) ---
        "bt_strengths": q_bt_strengths,
        "bucket_plan": q_bucket_plan,
        "label_agreement": q_label_agreement,
        "rater_reliability": q_rater_reliability,
        # --- round-9 built: online rating + missing-label agreement ---
        "elo_ratings": q_elo_ratings,
        "krippendorff_alpha": q_krippendorff_alpha,
        "win_rate_matrix": q_win_rate_matrix,
        "length_bias": q_length_bias,
        "rank_agreement": q_rank_agreement,
        # --- round-10 registrations (built + gated in r9:
        #     tests/test_r10_queue.py, driver's own comparison) ---
        "weighted_consensus": q_weighted_consensus,
        "supplier_rank_tau": q_supplier_rank_tau,
        "preference_cycles": q_preference_cycles,
        "copeland_ranking": q_copeland_ranking,
        "cycles_by_gap": q_cycles_by_gap,
        "elo_calibration": q_elo_calibration,
        # --- eval-statistics and agreement queries, each checked
        #     against its DuckDB twin in tests/test_r11_queue.py or
        #     tests/test_evalrank.py before registration ---
        "pairwise_coverage": q_pairwise_coverage,
        "player_consistency": q_player_consistency,
        "fleiss_kappa": q_fleiss_kappa,
        "pass_at_k": q_pass_at_k,
        "mcnemar_pairs": q_mcnemar_pairs,
        "item_discrimination": q_item_discrimination,
        "auc_roc": q_auc_roc,
        "ks_test": q_ks_test,
        # --- round-4 additions ---
        "join_delta_retract": q_join_delta_retract,
        "events_running_totals": q_events_running_totals,
        "events_topk_stream": q_events_topk_stream,
        "events_bucket_stream": q_events_bucket_stream,
        "events_session_flush": q_events_session_flush,
        # --- round-3 additions / re-oracled queries ---
        "join_delta": q_join_delta,
        "dense_ids": q_dense_ids,
        "kmv_set_ops": q_kmv_set_ops,
        "source_overlap": q_source_overlap,
        "span_strip": q_span_strip,
        "leakage_safe_split": q_leakage_safe_split,
        "kv_records": q_kv_records,
        "asof_forward_tolerance": q_asof_forward_tolerance,
        "lpa_communities": q_lpa_communities,
        "entity_resolution": q_entity_resolution,
        "sample_k_per_group": q_sample_k_per_group,
        "events_dedup_stream": q_events_dedup_stream,
        "tokenizer_stats": q_tokenizer_stats,
        "bpe_merges": q_bpe_merges,
        "shard_plan": q_shard_plan,
        "temperature_mixture": q_temperature_mixture,
        "cluster_representatives": q_cluster_representatives,
        "hard_negatives": q_hard_negatives,
        "containment_dedup": q_containment_dedup,
        "kmv_distinct": q_kmv_distinct,
        "span_dedup": q_span_dedup,
        "time_fill_linear": q_time_fill_linear,
        "dedup_embedding_lsh": q_dedup_embedding_lsh,
        "skew_join_agg": q_skew_join_agg,
        "skew_salted_join": q_skew_salted_join,
        "events_watermark": q_events_watermark,
        # --- round-2 additions / re-oracled queries ---
        "request_lifecycle": q_request_lifecycle,
        "zonal_weighted_polygon": q_zonal_weighted_polygon,
        "zonal_weighted_triangle": q_zonal_weighted_triangle,
        "raster_file_zonal": q_raster_file_zonal,
        "approx_stats": q_approx_stats,
        "similarity_lsh_topk": q_similarity_lsh_topk,
        "similarity_ivf_topk": q_similarity_ivf_topk,
        "semantic_dedup": q_semantic_dedup,
        "similarity_pq_topk": q_similarity_pq_topk,
        "spatial_nearest": q_spatial_nearest,
        "raster_downsample": q_raster_downsample,
        "raster_trend": q_raster_trend,
        "expectations_report": q_expectations_report,
        "cms_heavy_hitters": q_cms_heavy_hitters,
        "events_quality_window": q_events_quality_window,
        "bloom_semi_filter": q_bloom_semi_filter,
        "polygon_metrics": q_polygon_metrics,
        # --- §2.4 active extract types ---
        "zonal_mean": _zonal("mean"),
        "zonal_count": _zonal("count"),
        "zonal_sum": _zonal("sum"),
        "zonal_min": _zonal("min"),
        "zonal_max": _zonal("max"),
        "zonal_weighted_mean": _zonal("weighted_mean"),
        "zonal_weighted_count": _zonal("weighted_count"),
        "zonal_weighted_sum": _zonal("weighted_sum"),
        "zonal_categorical": _zonal("categorical"),
        "zonal_reliability": _zonal("reliability"),
        # --- §2.4 roadmap extract types ---
        "zonal_std": _zonal("std", round_to=4),
        "zonal_median": _zonal("median"),
        "zonal_majority": _zonal("majority"),
        "zonal_minority": _zonal("minority"),
        "zonal_unique": _zonal("unique"),
        "zonal_range": _zonal("range"),
        "zonal_percentile_25": _zonal("percentile_25"),
        "zonal_var": _zonal("var", round_to=2),
        "zonal_mode": _zonal("mode"),
        # --- §2.1-2.3, 2.5-2.8 relational inventory ---
        "queue_scan": q_queue_scan,
        "two_phase_poll": q_two_phase_poll,
        "point_lookup": q_point_lookup,
        "release_filters": q_release_filters,
        "catalog_join": q_catalog_join,
        "wide_merge": q_wide_merge,
        "cache_anti_join": q_cache_anti_join,
        "semi_join": q_semi_join,
        "union_distinct": q_union_distinct,
        "except_distinct": q_except_distinct,
        "intersect_distinct": q_intersect_distinct,
        "msr_pipeline": q_msr_pipeline,
        "scalar_functions": q_scalar_functions,
        "temporal_sort": q_temporal_sort,
        "window_topk": q_window_topk,
        "window_running": q_window_running,
        # --- LLM-data-pipeline extensions ---
        "dedup_exact": q_dedup_exact,
        "text_quality": q_text_quality,
        "text_lang_id": q_text_lang_id,
        "doc_fingerprint": q_doc_fingerprint,
        "minhash_signatures": q_minhash_signatures,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_simhash": q_dedup_simhash,
        "similarity_cosine_topk": q_similarity_cosine_topk,
        "multimodal_decode": q_multimodal_decode,
        "multimodal_frame_sample": q_multimodal_frame_sample,
        "zonal_spatial_join": q_zonal_spatial_join,
        "zonal_salted_mean": q_zonal_salted_mean,
        "zonal_weighted_spatial": q_zonal_weighted_spatial,
        "range_join": q_range_join,
        "dedup_clusters": q_dedup_clusters,
        "window_lag_lead": q_window_lag_lead,
        "cube_agg": q_cube_agg,
        "asof_join": q_asof_join,
        "rollup_agg": q_rollup_agg,
        "dedup_embedding_cosine": q_dedup_embedding_cosine,
        "text_tfidf": q_text_tfidf,
        "hypertable_rollup": q_hypertable_rollup,
        "zonal_percentiles": q_zonal_percentiles,
        "events_json_extract": q_events_json_extract,
        "text_edit_distance": q_text_edit_distance,
        "profile_table": q_profile_table,
        "queue_timeline": q_queue_timeline,
        # --- LLM-pipeline: chunking / packing / sampling / vocab ---
        "doc_chunks": q_doc_chunks,
        "pack_sequences": q_pack_sequences,
        "sample_hash": q_sample_hash,
        "sample_stratified": q_sample_stratified,
        "term_doc_freq": q_term_doc_freq,
        "unpivot_metrics": q_unpivot_metrics,
        "time_fill": q_time_fill,
        "dedup_report": q_dedup_report,
        "argmax_order": q_argmax_order,
        "pii_redact": q_pii_redact,
        "rolling_range_window": q_rolling_range_window,
        "decontaminate": q_decontaminate,
        "text_repetition": q_text_repetition,
        "histogram_price": q_histogram_price,
        "corr_exact": q_corr_exact,
        "zorder_key": q_zorder_key,
        "grouping_sets": q_grouping_sets,
        "window_distribution": q_window_distribution,
        "mixture_sample": q_mixture_sample,
        "quality_filter_report": q_quality_filter_report,
        "impute_group_mean": q_impute_group_mean,
        "zscore_outliers": q_zscore_outliers,
        "pivot_wide": q_pivot_wide,
        "pagerank": q_pagerank,
        "cdc_apply": q_cdc_apply,
        "scd2_history": q_scd2_history,
        "inverted_index": q_inverted_index,
        "unigram_logprob": q_unigram_logprob,
        "tpch_q1": q_tpch_q1,
        "tpch_q3": q_tpch_q3,
        "tpch_q5": q_tpch_q5,
        "tpch_q6": q_tpch_q6,
        "tpch_q10": q_tpch_q10,
        "tpch_q18": q_tpch_q18,
        "tpch_q2": q_tpch_q2,
        "tpch_q4": q_tpch_q4,
        "tpch_q7": q_tpch_q7,
        "tpch_q8": q_tpch_q8,
        "tpch_q9": q_tpch_q9,
        "tpch_q11": q_tpch_q11,
        "tpch_q12": q_tpch_q12,
        "tpch_q13": q_tpch_q13,
        "tpch_q14": q_tpch_q14,
        "tpch_q15": q_tpch_q15,
        "tpch_q16": q_tpch_q16,
        "tpch_q17": q_tpch_q17,
        "tpch_q19": q_tpch_q19,
        "tpch_q20": q_tpch_q20,
        "tpch_q21": q_tpch_q21,
        "tpch_q22": q_tpch_q22,
        # --- event analytics ---
        "sessionize_events": q_sessionize_events,
        "cohort_retention": q_cohort_retention,
        "funnel_conversion": q_funnel_conversion,
        "skew_report": q_skew_report,
        # --- flagship composition ---
        "corpus_pipeline": q_corpus_pipeline,
        # --- entity resolution / semi-structured / LM / cleaning ---
        "fuzzy_name_pairs": q_fuzzy_name_pairs,
        "json_shred": q_json_shred,
        "bigram_next": q_bigram_next,
        "distinctive_terms": q_distinctive_terms,
        "winsorize_prices": q_winsorize_prices,
        "basket_pairs": q_basket_pairs,
        "incremental_rollup": q_incremental_rollup,
        "label_centroids": q_label_centroids,
        "triangle_count": q_triangle_count,
        "column_entropy": q_column_entropy,
        "profile_drift": q_profile_drift,
        "seasonal_anomalies": q_seasonal_anomalies,
        "setsim_prefix": q_setsim_prefix,
        "concurrency_curve": q_concurrency_curve,
        "equidepth_hist": q_equidepth_hist,
        "weighted_sample": q_weighted_sample,
        "lm_score": q_lm_score,
        "pseudonymize_join": q_pseudonymize_join,
        "k_anonymity": q_k_anonymity,
        "fd_check": q_fd_check,
        "dict_encode": q_dict_encode,
        "event_transitions": q_event_transitions,
        "sequence_gaps": q_sequence_gaps,
        "benford_audit": q_benford_audit,
        "psi_drift": q_psi_drift,
        "trend_fit": q_trend_fit,
        "mad_outliers": q_mad_outliers,
        # --- event-time windows (§2.10) ---
        "events_tumbling": q_events_tumbling,
        "events_sliding": q_events_sliding,
        "events_session": q_events_session,
    })


# --- programmatic oracle builders (constants shared with the engine) ---

_SHINGLES_SQL = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, greatest(len(l) - 1, 2)),
                               i -> array_to_string(list_slice(l, i, i + 2), ' ')
                )) AS shingle
  FROM toks)
"""


def _bm25_cte(terms: tuple) -> str:
    """DuckDB CTE chain ending in ``bm(doc_id, n_hits, scoreq)`` — the
    exact integer-rational BM25 of operators/text.bm25_scores (same
    k1=6/5, b=3/4 reduction; see its docstring for the derivation)."""
    tl = ", ".join(f"'{t}'" for t in terms)
    return f"""toks AS (
          SELECT doc_id, term FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents)
          WHERE length(term) > 0),
        dl AS (SELECT doc_id, COUNT(*) AS L FROM toks GROUP BY doc_id),
        sc AS (SELECT COUNT(*) AS n, CAST(SUM(L) AS BIGINT) AS tt
               FROM dl),
        qt AS (SELECT doc_id, term FROM toks
               WHERE term IN ({tl})),
        dft AS (SELECT term, COUNT(DISTINCT doc_id) AS df
                FROM qt GROUP BY term),
        idf AS (
          SELECT term,
                 CAST(FLOOR(ln(CAST(2 * (SELECT n FROM sc) - 2 * df + 1
                                    AS DOUBLE)) * 1e9 + 0.5) AS BIGINT)
                 - CAST(FLOOR(ln(CAST(2 * df + 1 AS DOUBLE)) * 1e9
                              + 0.5) AS BIGINT) AS idfq
          FROM dft),
        ctd AS (SELECT doc_id, term, COUNT(*) AS c
                FROM qt GROUP BY doc_id, term),
        j AS (
          SELECT ctd.doc_id, idf.idfq, ctd.c, dl.L
          FROM ctd JOIN idf USING (term) JOIN dl USING (doc_id)),
        terms AS (
          SELECT doc_id,
                 idfq * ((44 * c * (SELECT tt FROM sc) * 10000)
                         // (20 * c * (SELECT tt FROM sc)
                             + 6 * (SELECT tt FROM sc)
                             + 18 * (SELECT n FROM sc) * L))
                   AS term_scoreq
          FROM j),
        bm AS MATERIALIZED (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits,
                 CAST(SUM(term_scoreq) AS BIGINT) AS scoreq
          FROM terms GROUP BY doc_id)"""


def _retrieval_pipeline_oracle() -> str:
    from det_module_spark.operators.mmr import _sql_qdot

    dot = _sql_qdot("ea.embedding", "eb.embedding", 64)
    return f"""
        WITH {_bm25_cte(('slow', 'hash', 'batch'))},
        cand AS MATERIALIZED (
          SELECT doc_id, scoreq,
                 CAST(ROW_NUMBER() OVER (ORDER BY scoreq DESC,
                                         doc_id ASC) AS INT) AS rank
          FROM bm QUALIFY rank <= 20),
        red AS (
          SELECT a.doc_id FROM cand a
          JOIN cand b ON b.rank < a.rank
          JOIN embeddings ea ON ea.vec_id = a.doc_id
          JOIN embeddings eb ON eb.vec_id = b.doc_id
          WHERE {dot} > 300000),
        surv AS (SELECT * FROM cand
                 WHERE doc_id NOT IN (SELECT doc_id FROM red))
        SELECT rank, doc_id, scoreq FROM surv
        ORDER BY rank LIMIT 5"""


def _mmr_oracle() -> str:
    from det_module_spark.operators.mmr import mmr_sql

    return mmr_sql("vec_id < 3", k=4, pool=12, dim=64)


def _k_core_oracle() -> str:
    from det_module_spark.operators.graph import k_core_sql

    return k_core_sql(
        """SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                  's' || CAST(l_suppkey AS VARCHAR) AS dst
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           WHERE o_orderkey < 5000""",
        k=12,
        rounds=6,
    )


_CS_EDGES = """SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
       's' || CAST(l_suppkey AS VARCHAR) AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
 WHERE o_orderkey < 5000"""


def _sssp_oracle() -> str:
    from det_module_spark.operators.graph import sssp_sql

    edges = """WITH fwd AS (
        SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
               's' || CAST(l_suppkey AS VARCHAR) AS dst,
               MIN(CAST(l_quantity AS BIGINT)) AS w
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         WHERE o_orderkey < 5000 GROUP BY 1, 2)
      SELECT src, dst, w FROM fwd
      UNION ALL SELECT dst, src, w FROM fwd"""
    sources = """SELECT 'c' || CAST(c_custkey AS VARCHAR) AS node
                   FROM customer WHERE c_custkey <= 3"""
    return sssp_sql(edges, sources, rounds=4)


def _hits_oracle() -> str:
    from det_module_spark.operators.graph import hits_sql

    return hits_sql(_CS_EDGES, rounds=2)


def _matryoshka_oracle(dims=(8, 16, 32, 64), k: int = 10) -> str:
    from det_module_spark.operators.mmr import _sql_qdot

    full_d = max(dims)
    sql = """
WITH q AS MATERIALIZED (SELECT embedding FROM embeddings
                        WHERE vec_id = 1),
cand AS MATERIALIZED (SELECT vec_id AS id, embedding
                      FROM embeddings WHERE vec_id <> 1)"""
    for d in sorted(dims):
        dot = _sql_qdot("cand.embedding", "q.embedding", d)
        sql += f""",
tk{d} AS MATERIALIZED (
  SELECT id FROM (SELECT id, {dot} AS dot FROM cand CROSS JOIN q)
  ORDER BY dot DESC, id LIMIT {k})"""
    selects = [
        f"""SELECT {d} AS dim_budget, CAST({k} AS BIGINT) AS k,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM tk{d}
        WHERE id IN (SELECT id FROM tk{full_d})) AS n_overlap"""
        for d in sorted(dims)
    ]
    return sql + "\n" + "\nUNION ALL ".join(selects) + "\nORDER BY dim_budget"


_ATTRIBUTION_LINEAR_ORACLE = """
WITH ev AS (
  SELECT user_id, event_type,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS value_c,
         event_type IN ('view', 'click', 'signup') AS it,
         event_type = 'purchase' AS ic,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS seq
  FROM events),
touches AS (SELECT user_id, seq AS tseq, event_type AS ch
            FROM ev WHERE it),
convs AS (SELECT user_id, seq AS cseq, value_c FROM ev WHERE ic),
pairs AS (SELECT c.user_id, c.cseq, c.value_c, t.ch
          FROM convs c JOIN touches t
            ON c.user_id = t.user_id AND t.tseq < c.cseq),
per AS (SELECT user_id, cseq, value_c, ch,
               CAST(COUNT(*) AS BIGINT) AS n_ch
        FROM pairs GROUP BY 1, 2, 3, 4),
tot AS (SELECT user_id, cseq, CAST(COUNT(*) AS BIGINT) AS n_t
        FROM pairs GROUP BY 1, 2),
cr AS (SELECT ch, n_ch, (value_c * n_ch) // n_t AS credit
       FROM per JOIN tot USING (user_id, cseq))
SELECT ch AS channel, CAST(SUM(n_ch) AS BIGINT) AS n_touches,
       CAST(SUM(credit) AS BIGINT) AS credit_c
FROM cr GROUP BY 1 ORDER BY 1"""


_OOV_ORACLE = """
WITH toks AS (
  SELECT id, term FROM (
    SELECT doc_id AS id, unnest(string_split(text, ' ')) AS term
    FROM documents)
  WHERE length(term) > 0),
vocab AS MATERIALIZED (
  SELECT term FROM (
    SELECT term, COUNT(*) AS n FROM toks GROUP BY term
    ORDER BY n DESC, term LIMIT 1000)),
per AS (
  SELECT id, CAST(COUNT(*) AS BIGINT) AS n_tok,
         CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_oov
  FROM toks t LEFT JOIN vocab v ON t.term = v.term GROUP BY id)
SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tok,
       CAST(SUM(n_oov) AS BIGINT) AS n_oov,
       CAST(SUM(n_oov) AS BIGINT) * 1000000
         // CAST(SUM(n_tok) AS BIGINT) AS oov_ppm
FROM per JOIN documents d ON per.id = d.doc_id
GROUP BY 1 ORDER BY 1"""


def _colbert_oracle() -> str:
    from det_module_spark.operators.mmr import _sql_qdot

    dot = _sql_qdot("d.embedding", "q.embedding", 64)
    return f"""
WITH q AS MATERIALIZED (
  SELECT vec_id AS qid, embedding FROM embeddings
  WHERE label = 1 ORDER BY vec_id LIMIT 4),
best AS (
  SELECT d.label AS doc, q.qid, MAX({dot}) AS best
  FROM embeddings d CROSS JOIN q
  WHERE d.label <> 1
  GROUP BY 1, 2)
SELECT doc, CAST(COUNT(*) AS BIGINT) AS n_q,
       CAST(SUM(best) AS BIGINT) AS maxsim_q
FROM best GROUP BY doc ORDER BY maxsim_q DESC, doc"""


def _bootstrap_oracle(b: int = 40) -> str:
    from det_module_spark.operators.bootstrap import poisson_weight_sql
    from det_module_spark.operators.dedup import (
        MINHASH_A,
        MINHASH_B,
        MINHASH_P,
    )

    a_list = ", ".join(str(a) for a in MINHASH_A[:b])
    b_list = ", ".join(str(c) for c in MINHASH_B[:b])
    u = (
        f"(([{a_list}])[CAST(rb AS INTEGER) + 1] * h"
        f" + ([{b_list}])[CAST(rb AS INTEGER) + 1])"
        f" % {MINHASH_P} % 1000000"
    )
    return f"""
WITH rows_ AS (SELECT CAST(concat('0x', substr(md5(
                        'boot:' || CAST(o_orderkey AS VARCHAR)),
                        1, 15)) AS BIGINT) % {MINHASH_P} AS h,
                      CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS x
               FROM orders),
tagged AS (SELECT h, x, unnest(range({b})) AS rb FROM rows_),
wt AS (SELECT rb, x, {poisson_weight_sql(u)} AS w FROM tagged),
cells AS (SELECT rb,
                 CAST(SUM(w * x) AS BIGINT) // CAST(SUM(w) AS BIGINT)
                   AS mean_c
          FROM wt GROUP BY rb HAVING SUM(w) > 0),
ranked AS (SELECT mean_c,
                  ROW_NUMBER() OVER (ORDER BY mean_c, rb) AS rn_asc,
                  ROW_NUMBER() OVER (ORDER BY mean_c DESC, rb DESC)
                    AS rn_desc
           FROM cells),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_boot FROM cells),
p AS (SELECT CAST(SUM(x) AS BIGINT) // COUNT(*) AS point_c FROM rows_),
lo AS (SELECT mean_c AS lo_c FROM ranked WHERE rn_asc = 2),
hi AS (SELECT mean_c AS hi_c FROM ranked WHERE rn_desc = 2)
SELECT n_boot, point_c, lo_c, hi_c FROM n, p, lo, hi"""


_PARTITION_CHECKSUMS_ORACLE = """
SELECT strftime(o_orderdate, '%Y-%m') AS part,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(bit_xor(CAST(concat('0x', substr(md5(concat_ws('|',
              CAST(o_orderkey AS VARCHAR), o_orderstatus,
              CAST(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                   AS VARCHAR))), 1, 15)) AS BIGINT)) AS BIGINT)
         AS xor_sig
FROM orders GROUP BY 1 ORDER BY 1"""


_SIMPSON_ORACLE = """
WITH base AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS stratum,
         o_orderpriority IN ('1-URGENT', '2-HIGH') AS is_a,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS flag
  FROM orders),
base2 AS (
  SELECT stratum, is_a, flag FROM base
  UNION ALL
  SELECT NULL, is_a, flag FROM base),
g AS (
  SELECT stratum,
         CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS BIGINT)
           AS n_b,
         CAST(SUM(CASE WHEN is_a THEN flag END) AS BIGINT) AS f_a,
         CAST(SUM(CASE WHEN NOT is_a THEN flag END) AS BIGINT) AS f_b
  FROM base2 GROUP BY stratum)
SELECT stratum, n_a, n_b,
       f_a * 1000000 // n_a AS rate_a_ppm,
       f_b * 1000000 // n_b AS rate_b_ppm,
       CAST(CASE WHEN f_a IS NULL OR f_b IS NULL THEN NULL
                 WHEN f_a * 1000000 // n_a > f_b * 1000000 // n_b
                 THEN 1
                 WHEN f_a * 1000000 // n_a = f_b * 1000000 // n_b
                 THEN 0 ELSE -1 END AS BIGINT) AS sgn
FROM g ORDER BY stratum NULLS LAST"""


def _rendezvous_oracle() -> str:
    from det_module_spark.operators.layout import rendezvous_draw_sql

    d = rendezvous_draw_sql("c_custkey", "s")
    return f"""
WITH d8 AS (SELECT c_custkey AS k, CAST(s AS INTEGER) AS s, {d} AS h
            FROM customer, range(8) t(s)),
a8 AS (SELECT k, s AS shard FROM d8
       QUALIFY ROW_NUMBER() OVER (
         PARTITION BY k ORDER BY h DESC, s DESC) = 1),
d9 AS (SELECT c_custkey AS k, CAST(s AS INTEGER) AS s, {d} AS h
       FROM customer, range(9) t(s)),
a9 AS (SELECT k, s AS shard9 FROM d9
       QUALIFY ROW_NUMBER() OVER (
         PARTITION BY k ORDER BY h DESC, s DESC) = 1)
SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(CASE WHEN shard <> shard9 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_moved
FROM a8 JOIN a9 USING (k) GROUP BY shard ORDER BY shard"""


_DOC_ENTROPY_ORACLE = """
WITH chars AS (
  SELECT doc_id, substring(text, CAST(i AS INTEGER), 1) AS ch
  FROM (SELECT doc_id, text,
               unnest(range(1, length(text) + 1)) AS i
        FROM documents)),
counts AS (SELECT doc_id, ch, COUNT(*) AS c FROM chars GROUP BY 1, 2),
per AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_chars,
         CAST(COUNT(*) AS BIGINT) AS n_distinct,
         CAST(SUM(c * CAST(FLOOR(ln(CAST(c AS DOUBLE)) * 1e9 + 0.5)
                           AS BIGINT)) AS BIGINT) AS clnc
  FROM counts GROUP BY 1)
SELECT doc_id, n_chars, n_distinct,
       CAST(FLOOR(ln(CAST(n_chars AS DOUBLE)) * 1e9 + 0.5) AS BIGINT)
         - clnc // n_chars AS ent_q
FROM per ORDER BY doc_id"""


_KFOLD_ORACLE = """
SELECT CAST(concat('0x', substr(md5(
         'fold:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 5
         AS fold,
       lang, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM documents GROUP BY 1, 2 ORDER BY fold, lang"""


def _blocking_eval_oracle() -> str:
    return f"""
WITH truth AS MATERIALIZED (
  SELECT id_a, id_b FROM ({_jaccard_sql(0.12)})),
cand AS MATERIALIZED (
  SELECT id_a, id_b FROM ({_minhash_lsh_sql(16, 8, 2)})),
t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM truth),
c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cand FROM cand),
h AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hit
      FROM truth JOIN cand USING (id_a, id_b))
SELECT n_truth, n_cand, n_hit,
       CASE WHEN n_truth > 0 THEN n_hit * 1000000 // n_truth END
         AS recall_ppm,
       CASE WHEN n_cand > 0 THEN n_hit * 1000000 // n_cand END
         AS precision_ppm
FROM t, c, h"""


_EV_CENTS_BASE = """SELECT event_type AS grp, epoch_us(ts) AS us,
       event_id, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS x
  FROM events"""


def _ewma_oracle(k: int = 8) -> str:
    lag_cols = ", ".join(
        f"LAG(x, {i}) OVER w AS x{i}" for i in range(1, k)
    )
    ewma_terms = " + ".join(
        f"COALESCE(x{i} * {1 << (k - 1 - i)}, 0)" if i else
        f"COALESCE(x * {1 << (k - 1)}, 0)"
        for i in range(k)
    )
    mass_terms = " + ".join(
        f"CASE WHEN x{i} IS NOT NULL THEN {1 << (k - 1 - i)} ELSE 0 END"
        if i else
        f"CASE WHEN x IS NOT NULL THEN {1 << (k - 1)} ELSE 0 END"
        for i in range(k)
    )
    return f"""
WITH base AS ({_EV_CENTS_BASE}),
l AS (SELECT grp, us, event_id, x, {lag_cols}
      FROM base
      WINDOW w AS (PARTITION BY grp ORDER BY us, event_id))
SELECT grp, us, event_id,
       CAST({ewma_terms} AS BIGINT) AS ewma_q,
       CAST({mass_terms} AS BIGINT) AS wsum
FROM l ORDER BY grp, us, event_id"""


_CUSUM_ORACLE = f"""
WITH base AS ({_EV_CENTS_BASE}),
tot AS (SELECT grp, COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS sx
        FROM base GROUP BY grp),
run AS (SELECT base.grp, n, us, event_id,
               CAST(SUM(n * x - sx) OVER (
                 PARTITION BY base.grp ORDER BY us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS s
        FROM base JOIN tot USING (grp)),
agg AS (SELECT grp, n, us AS at_max_0, s,
               ROW_NUMBER() OVER (
                 PARTITION BY grp ORDER BY s DESC, us, event_id) AS rk,
               CAST(MIN(s) OVER (PARTITION BY grp) AS BIGINT) AS s_min,
               CAST(MAX(s) OVER (PARTITION BY grp) AS BIGINT) AS s_max
        FROM run)
SELECT grp, n, s_max, s_min, at_max_0 FROM agg WHERE rk = 1 ORDER BY grp"""


def _graph_voronoi_oracle() -> str:
    from det_module_spark.operators.graph import nearest_seed_sql

    edges = """WITH fwd AS (
        SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
               's' || CAST(l_suppkey AS VARCHAR) AS dst
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         WHERE o_orderkey < 5000 GROUP BY 1, 2)
      SELECT src, dst FROM fwd
      UNION ALL SELECT dst, src FROM fwd"""
    seeds = """SELECT 'c' || CAST(c_custkey AS VARCHAR) AS node
                 FROM customer WHERE c_custkey <= 3"""
    return nearest_seed_sql(edges, seeds, rounds=4) + "\nORDER BY node"


_CS_EDGES_SQL = """
  WITH fwd AS (
    SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
           's' || CAST(l_suppkey AS VARCHAR) AS dst{tcol}
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
     WHERE o_orderkey < 5000 GROUP BY ALL)
  SELECT src, dst{tsel} FROM fwd
  UNION SELECT dst, src{tsel} FROM fwd"""


def _ppr_oracle() -> str:
    from det_module_spark.operators.graph import personalized_pagerank_sql

    edges = _CS_EDGES_SQL.format(tcol="", tsel="")
    seeds = """SELECT 'c' || CAST(c_custkey AS VARCHAR) AS node
                 FROM customer WHERE c_custkey <= 5"""
    return (
        personalized_pagerank_sql(edges, seeds, iterations=3)
        + "\nORDER BY node"
    )


def _temporal_reach_oracle() -> str:
    from det_module_spark.operators.graph import temporal_reachability_sql

    edges = _CS_EDGES_SQL.format(
        tcol=",\n           CAST(o_orderdate AS DATE)"
        " - DATE '1970-01-01' AS t",
        tsel=", t",
    )
    seeds = """SELECT 's' || CAST(s_suppkey AS VARCHAR) AS node
                 FROM supplier WHERE s_suppkey <= 3"""
    return (
        temporal_reachability_sql(edges, seeds, rounds=4)
        + "\nORDER BY node"
    )


def _logreg_oracle() -> str:
    from det_module_spark.operators.glm import logreg_sql

    feat = (
        "SELECT CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END"
        " AS yd, CAST(day(ts) AS DOUBLE) AS xd1,"
        " CAST(LEAST(CAST(FLOOR(value) AS BIGINT), 50) AS DOUBLE)"
        " AS xd2 FROM events"
    )
    return logreg_sql(feat, rounds=3)


_EMB_DRIFT_ORACLE = """
WITH base AS (
  SELECT label AS lbl, vec_id % 2 = 0 AS ia,
         unnest(range(1, 65)) AS dim,
         unnest(list_transform(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 10000 + 0.5)
                AS BIGINT))) AS q
  FROM embeddings),
sums AS (
  SELECT lbl, ia, dim, CAST(SUM(q) AS BIGINT) AS s
  FROM base GROUP BY 1, 2, 3),
j AS (
  SELECT a.lbl, a.dim, a.s AS sa, b.s AS sb
  FROM sums a JOIN sums b
    ON a.lbl = b.lbl AND a.dim = b.dim AND a.ia AND NOT b.ia),
counts AS (
  SELECT label AS lbl,
         CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 0 ELSE 1 END)
              AS BIGINT) AS n_b
  FROM embeddings GROUP BY 1),
dots AS (
  SELECT lbl, CAST(SUM(sa * sb) AS BIGINT) AS dot,
         CAST(SUM(sa * sa) AS BIGINT) AS na2,
         CAST(SUM(sb * sb) AS BIGINT) AS nb2
  FROM j GROUP BY 1)
SELECT c.lbl AS label, n_a, n_b,
       CASE WHEN na2 > 0 AND nb2 > 0 THEN CAST(FLOOR(
         1000000.0 * CAST(dot AS DOUBLE)
         / (sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(nb2 AS DOUBLE)))
         + 0.5) AS BIGINT)
       END AS cos_ppm
FROM counts c JOIN dots d ON c.lbl = d.lbl ORDER BY label"""


def _rbo_oracle() -> str:
    wvals = ", ".join(f"({d}, {w})" for d, w in _rbo_weights())

    def prefix(name: str, terms: tuple) -> str:
        return f"""{name}_top AS (
  SELECT doc_id, scoreq FROM (
    WITH {_bm25_cte(terms)}
    SELECT doc_id, scoreq FROM bm
    ORDER BY scoreq DESC, doc_id LIMIT 10)),
{name}_p AS (
  SELECT doc_id, unnest(range(rnk, 11)) AS d FROM (
    SELECT doc_id, ROW_NUMBER() OVER (
      ORDER BY scoreq DESC, doc_id) AS rnk
    FROM {name}_top))"""

    return f"""
WITH {prefix('ra', _RBO_TERMS_A)},
{prefix('rb', _RBO_TERMS_B)},
o AS (SELECT ra_p.d FROM ra_p JOIN rb_p
      ON ra_p.doc_id = rb_p.doc_id AND ra_p.d = rb_p.d),
w(d, wq) AS (VALUES {wvals}),
agg AS (SELECT CAST(COALESCE(SUM(wq), 0) AS BIGINT) AS rbo_q
        FROM o JOIN w USING (d))
SELECT rbo_q, rbo_q // 1000 AS rbo_ppm FROM agg"""


def _ndcg_oracle() -> str:
    weights = _ndcg_weights()
    wvals = ", ".join(f"({r}, {w})" for r, w in weights)
    blocks = []
    for qid, terms in _NDCG_QUERIES:
        blocks.append(
            f"""(
  WITH {_bm25_cte(terms)},
  top AS (SELECT doc_id, scoreq FROM bm
          ORDER BY scoreq DESC, doc_id LIMIT 10),
  ranked AS (
    SELECT doc_id % 4 AS rel,
           ROW_NUMBER() OVER (ORDER BY scoreq DESC, doc_id) AS rnk,
           ROW_NUMBER() OVER (ORDER BY doc_id % 4 DESC, doc_id)
             AS ideal_rnk
    FROM top),
  w(rnk, wq) AS (VALUES {wvals}),
  dcg AS (SELECT CAST(SUM(rel * wq) AS BIGINT) AS dcg_q
          FROM ranked JOIN w USING (rnk)),
  idcg AS (SELECT CAST(SUM(rel * wq) AS BIGINT) AS idcg_q
           FROM ranked JOIN w ON w.rnk = ranked.ideal_rnk)
  SELECT '{qid}' AS qid, dcg_q, idcg_q,
         CASE WHEN idcg_q > 0 THEN dcg_q * 1000000 // idcg_q END
           AS ndcg_ppm
  FROM dcg CROSS JOIN idcg)"""
        )
    return (
        "SELECT * FROM "
        + "\nUNION ALL SELECT * FROM ".join(blocks)
        + "\nORDER BY qid"
    )


_LOGRANK_ORACLE = """
WITH per_unit AS (
  SELECT event_type AS cohort, user_id AS u,
         MIN(CAST(ts AS DATE) - DATE '1970-01-01') AS first_d,
         MAX(CAST(ts AS DATE) - DATE '1970-01-01') AS last_d
  FROM events WHERE event_type IN ('click', 'error')
  GROUP BY 1, 2),
mx AS (SELECT MAX(last_d) AS mx FROM per_unit),
lt AS (SELECT cohort = 'click' AS is_a, last_d - first_d AS t,
              CASE WHEN last_d + 3 <= mx THEN 1 ELSE 0 END AS dead
       FROM per_unit CROSS JOIN mx),
cells AS (
  SELECT t, CAST(COUNT(*) AS BIGINT) AS ending,
         CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT)
           AS ending_a,
         CAST(SUM(dead) AS BIGINT) AS d_all,
         CAST(SUM(CASE WHEN is_a THEN dead ELSE 0 END) AS BIGINT)
           AS d_a
  FROM lt GROUP BY t),
ar AS (
  SELECT t, d_all, d_a,
         CAST(SUM(ending) OVER w AS BIGINT) AS n_all,
         CAST(SUM(ending_a) OVER w AS BIGINT) AS n_a
  FROM cells
  WINDOW w AS (ORDER BY t DESC ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)),
f AS (SELECT * FROM ar WHERE d_all > 0 AND n_all > 1),
agg AS (
  SELECT CAST(SUM(d_a) AS BIGINT) AS o_a,
         CAST(SUM(CAST(FLOOR(CAST(d_all AS DOUBLE)
           * CAST(n_a AS DOUBLE) / CAST(n_all AS DOUBLE)
           * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS e_a_micro,
         CAST(SUM(CAST(FLOOR(CAST(d_all AS DOUBLE)
           * (CAST(n_a AS DOUBLE) / CAST(n_all AS DOUBLE))
           * (CAST(n_all - n_a AS DOUBLE) / CAST(n_all AS DOUBLE))
           * (CAST(n_all - d_all AS DOUBLE)
              / CAST(n_all - 1 AS DOUBLE))
           * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS v_micro
  FROM f)
SELECT 'click' AS group_a, 'error' AS group_b, o_a, e_a_micro,
       v_micro,
       CASE WHEN v_micro > 0 THEN CAST(FLOOR(
         CAST(o_a * 1000000 - e_a_micro AS DOUBLE)
         * CAST(o_a * 1000000 - e_a_micro AS DOUBLE) * 1000.0
         / (1000000.0 * CAST(v_micro AS DOUBLE)) + 0.5) AS BIGINT)
       END AS chi2_milli
FROM agg"""


def _logreg_cal_oracle() -> str:
    from det_module_spark.operators.glm import logreg_calibration_sql

    feat = (
        "SELECT CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END"
        " AS yd, CAST(day(ts) AS DOUBLE) AS xd1,"
        " CAST(LEAST(CAST(FLOOR(value) AS BIGINT), 50) AS DOUBLE)"
        " AS xd2 FROM events"
    )
    return logreg_calibration_sql(feat, rounds=3, bins=10)


def _layout_pruning_oracle() -> str:
    from det_module_spark.operators.layout import hilbert_sql, morton_sql

    probes = ", ".join(
        f"({i}, {a}, {b}, {c}, {d})"
        for i, (a, b, c, d) in enumerate(_PRUNE_PROBES)
    )
    hil = hilbert_sql(
        "SELECT p_partkey, x, y FROM pts",
        ["p_partkey", "x", "y"],
        "x",
        "y",
        bits=7,
    )

    def block(name: str, keyed_from: str) -> str:
        return f"""
{name}_rn AS (
  SELECT x, y, ROW_NUMBER() OVER (ORDER BY okey) - 1 AS rid,
         COUNT(*) OVER () AS n
  FROM {keyed_from}),
{name}_stats AS (
  SELECT rid * 32 // n AS bucket,
         MIN(x) AS x_lo, MAX(x) AS x_hi,
         MIN(y) AS y_lo, MAX(y) AS y_hi
  FROM {name}_rn GROUP BY 1),
{name}_hit AS (
  SELECT p.probe_id, CAST(COUNT(s.bucket) AS BIGINT) AS n_touched
  FROM probes p LEFT JOIN {name}_stats s
    ON s.x_lo <= p.px1 AND s.x_hi >= p.px0
   AND s.y_lo <= p.py1 AND s.y_hi >= p.py0
  GROUP BY 1)"""

    return f"""
WITH pts AS (
  SELECT p_partkey, (p_partkey * 37) % 128 AS x,
         (p_partkey * 61) % 128 AS y
  FROM part),
probes(probe_id, px0, px1, py0, py1) AS (VALUES {probes}),
hil_keyed AS (
  SELECT x, y, hkey * 100000000 + p_partkey AS okey
  FROM ({hil})),
mor_keyed AS (
  SELECT x, y,
         ({morton_sql('x', 'y')}) * 100000000 + p_partkey AS okey
  FROM pts),
lin_keyed AS (
  SELECT x, y, x * 100000000 + p_partkey AS okey FROM pts),
{block('hil', 'hil_keyed')},
{block('mor', 'mor_keyed')},
{block('lin', 'lin_keyed')}
SELECT 'hilbert' AS layout, probe_id, n_touched,
       CAST(32 AS BIGINT) AS n_buckets FROM hil_hit
UNION ALL
SELECT 'morton', probe_id, n_touched, CAST(32 AS BIGINT)
FROM mor_hit
UNION ALL
SELECT 'xsort', probe_id, n_touched, CAST(32 AS BIGINT)
FROM lin_hit
ORDER BY layout, probe_id"""


def _hex_bin_oracle() -> str:
    from det_module_spark.operators.spatial import hex_bin_sql

    cells = hex_bin_sql("(p_partkey * 13) % 97", "(p_partkey * 29) % 89", 4.0)
    return f"""
WITH cells AS (SELECT {cells} FROM part)
SELECT hq, hr, CAST(COUNT(*) AS BIGINT) AS n
FROM cells GROUP BY 1, 2 ORDER BY hq, hr"""


def _hilbert_oracle() -> str:
    from det_module_spark.operators.layout import hilbert_sql

    base = (
        "SELECT p_partkey, p_partkey % 256 AS x,"
        " (p_size * 5) % 256 AS y FROM part"
    )
    return (
        hilbert_sql(base, ["p_partkey", "x", "y"], "x", "y", bits=8)
        + "\nORDER BY hkey, p_partkey"
    )


# Shared URL canonicalization CTE chain (url_normalize/domain_caps):
# rebuilds the exact derived-URL strings from documents, then mirrors
# operators/web.normalize_urls step for step. DuckDB regexp_replace
# needs the explicit 'g' flag (Spark's is global by default).
_URL_CANON_CTE = """
WITH raw AS (
  SELECT doc_id,
    CASE WHEN doc_id % 2 = 0 THEN 'HTTP://' ELSE 'https://' END ||
    CASE WHEN doc_id % 5 = 0 THEN 'WWW.' ELSE '' END ||
    source ||
    CASE WHEN doc_id % 2 = 0 THEN '.COM' ELSE '.org' END ||
    CASE doc_id % 4 WHEN 0 THEN ':80' WHEN 1 THEN ':443'
         WHEN 2 THEN ':8080' ELSE '' END ||
    '/docs//' || CAST(doc_id % 7 AS VARCHAR) ||
    CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END ||
    CASE doc_id % 3 WHEN 0 THEN '?utm_source=feed&b=2&a=1'
         WHEN 1 THEN '?a=1&fbclid=XY' ELSE '' END ||
    CASE WHEN doc_id % 6 = 0 THEN '#sec2' ELSE '' END AS url
  FROM documents),
parts AS (
  SELECT doc_id,
    lower(regexp_extract(url,
          '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
    lower(regexp_extract(url,
          '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS authority,
    regexp_replace(regexp_extract(url,
          '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1),
          '/{2,}', '/', 'g') AS pc,
    COALESCE(regexp_extract(url, '\\?([^#]*)', 1), '') AS qraw
  FROM raw),
hp AS (
  SELECT *, regexp_extract(authority, '([^@]*)$', 1) AS hostport
  FROM parts),
hostparts AS (
  SELECT doc_id, scheme, pc, qraw,
    split_part(hostport, ':', 1) AS host_raw,
    CASE WHEN strpos(hostport, ':') > 0
         THEN regexp_extract(hostport, ':([^:]*)$', 1)
         ELSE '' END AS port
  FROM hp),
norm AS (
  SELECT doc_id, scheme,
    CASE WHEN port <> '' AND NOT ((scheme = 'http' AND port = '80')
              OR (scheme = 'https' AND port = '443'))
         THEN host_raw || ':' || port ELSE host_raw END AS host,
    CASE WHEN pc = '' THEN '/'
         WHEN length(pc) > 1 AND pc LIKE '%/'
         THEN substr(pc, 1, length(pc) - 1)
         ELSE pc END AS path,
    COALESCE(array_to_string(list_sort(list_filter(
      CASE WHEN qraw = '' THEN CAST([] AS VARCHAR[])
           ELSE string_split(qraw, '&') END,
      p -> p <> '' AND NOT (starts_with(split_part(p, '=', 1), 'utm_')
            OR split_part(p, '=', 1) IN
               ('fbclid', 'gclid', 'ref', 'mc_cid', 'mc_eid')))),
      '&'), '') AS query,
    CASE WHEN regexp_matches(host_raw, '[^.]+\\.[^.]+$')
         THEN regexp_extract(host_raw, '([^.]+\\.[^.]+)$', 1)
         ELSE host_raw END AS domain
  FROM hostparts),
canon AS (
  SELECT doc_id, domain,
    scheme || '://' || host || path ||
    CASE WHEN query = '' THEN '' ELSE '?' || query END AS canonical
  FROM norm)
"""

_GROWTH_ORACLE = """
WITH active AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
lagged AS (
  SELECT user_id, day,
         LAG(day) OVER w AS prev_day,
         LEAD(day) OVER w AS next_day
  FROM active WINDOW w AS (PARTITION BY user_id ORDER BY day)),
per_day AS (
  SELECT day,
         CAST(SUM(CASE WHEN prev_day IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_new,
         CAST(SUM(CASE WHEN prev_day IS NOT NULL
                        AND day - prev_day = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_retained,
         CAST(SUM(CASE WHEN prev_day IS NOT NULL
                        AND day - prev_day > 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_resurrected
  FROM lagged GROUP BY day),
mx AS (SELECT MAX(day) AS mx FROM active),
churn AS (
  SELECT day + 1 AS day, CAST(COUNT(*) AS BIGINT) AS n_churned
  FROM lagged CROSS JOIN mx
  WHERE (next_day IS NULL OR next_day - day > 1) AND day + 1 <= mx
  GROUP BY 1)
SELECT strftime(COALESCE(p.day, c.day), '%Y-%m-%d') AS day,
       COALESCE(n_new, 0) AS n_new,
       COALESCE(n_retained, 0) AS n_retained,
       COALESCE(n_resurrected, 0) AS n_resurrected,
       COALESCE(n_churned, 0) AS n_churned
FROM per_day p FULL OUTER JOIN churn c ON p.day = c.day
ORDER BY day"""


def _weighted_walk_oracle() -> str:
    from det_module_spark.operators.graph import weighted_random_walks_sql

    edges = """WITH fwd AS (
        SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
               's' || CAST(l_suppkey AS VARCHAR) AS dst,
               MIN(CAST(l_quantity AS BIGINT)) AS w
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         WHERE o_orderkey < 5000 GROUP BY 1, 2)
      SELECT src, dst, w FROM fwd
      UNION ALL SELECT dst, src, w FROM fwd"""
    seeds = """SELECT 'c' || CAST(c_custkey AS VARCHAR) AS node
                 FROM customer WHERE c_custkey <= 5"""
    return (
        weighted_random_walks_sql(edges, seeds, steps=4)
        + "\nORDER BY walk_id, step, node"
    )


def _random_walk_oracle() -> str:
    from det_module_spark.operators.graph import random_walks_sql

    edges = """WITH fwd AS (
        SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
               's' || CAST(l_suppkey AS VARCHAR) AS dst
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         WHERE o_orderkey < 5000 GROUP BY 1, 2)
      SELECT src, dst FROM fwd
      UNION ALL SELECT dst, src FROM fwd"""
    seeds = """SELECT 'c' || CAST(c_custkey AS VARCHAR) AS node
                 FROM customer WHERE c_custkey <= 5"""
    return (
        random_walks_sql(edges, seeds, steps=4)
        + "\nORDER BY walk_id, step, node"
    )


_FEATURE_HASH_ORACLE = """
WITH toks AS (
  SELECT unnest([
    'o_orderpriority=' || CAST(o_orderpriority AS VARCHAR),
    'o_orderstatus=' || CAST(o_orderstatus AS VARCHAR),
    'o_orderdate=' || CAST(o_orderdate AS VARCHAR)]) AS tok
  FROM orders),
h AS (SELECT tok,
             CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS hv
      FROM toks)
SELECT hv % 64 AS bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN hv % 128 < 64 THEN 1 ELSE -1 END) AS BIGINT)
         AS net_sign
FROM h GROUP BY 1 ORDER BY 1"""


_NEGATIVE_SAMPLE_ORACLE = """
WITH inter AS (
  SELECT o_custkey AS u_id, l_partkey AS i_id
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  WHERE o_orderkey < 5000),
pop AS MATERIALIZED (
  SELECT i_id FROM (
    SELECT i_id, COUNT(*) AS n_inter FROM inter GROUP BY i_id
    ORDER BY n_inter DESC, i_id LIMIT 50)),
users AS (SELECT DISTINCT u_id FROM inter),
seen AS (SELECT DISTINCT u_id, i_id FROM inter),
unseen AS (
  SELECT c.u_id, c.i_id
  FROM (SELECT u.u_id, p.i_id FROM users u CROSS JOIN pop p) c
  ANTI JOIN seen s ON c.u_id = s.u_id AND c.i_id = s.i_id),
drawn AS (
  SELECT u_id, i_id,
         CAST(concat('0x', substr(md5(
           'neg:' || CAST(u_id AS VARCHAR) || ':'
                  || CAST(i_id AS VARCHAR)), 1, 15)) AS BIGINT)
           % 1000000 AS draw
  FROM unseen)
SELECT u_id AS user_id, i_id AS item_id,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY u_id ORDER BY draw, i_id) AS BIGINT) AS neg_rank
FROM drawn
QUALIFY neg_rank <= 3
ORDER BY user_id, neg_rank"""


def _adamic_adar_oracle() -> str:
    from det_module_spark.operators.graph import adamic_adar_sql

    return (
        adamic_adar_sql(_CS_EDGES)
        + "\nORDER BY aa_q DESC, node_a, node_b LIMIT 100"
    )


def _sq8_oracle() -> str:
    from det_module_spark.operators.quantize import sq8_sql

    return sq8_sql(dim=64) + "\nORDER BY vec_id"


def _rrf_oracle() -> str:
    from det_module_spark.operators.mmr import _sql_qdot

    dot = _sql_qdot("e.embedding", "q.embedding", 64)
    return f"""
        WITH {_bm25_cte(('spark', 'window', 'merge'))},
        sparse AS MATERIALIZED (
          SELECT doc_id,
                 CAST(ROW_NUMBER() OVER (ORDER BY scoreq DESC, doc_id)
                      AS BIGINT) AS rank_sparse
          FROM bm
          QUALIFY rank_sparse <= 20),
        q AS (SELECT embedding FROM embeddings WHERE vec_id = 1),
        dots AS (SELECT e.vec_id AS doc_id, {dot} AS dot
                 FROM embeddings e, q),
        dense AS MATERIALIZED (
          SELECT doc_id,
                 CAST(ROW_NUMBER() OVER (ORDER BY dot DESC, doc_id)
                      AS BIGINT) AS rank_dense
          FROM dots
          QUALIFY rank_dense <= 20),
        fused AS (
          SELECT COALESCE(s.doc_id, d.doc_id) AS doc_id,
                 s.rank_sparse, d.rank_dense,
                 COALESCE(1000000 // (60 + s.rank_sparse), 0)
                 + COALESCE(1000000 // (60 + d.rank_dense), 0) AS rrf_q
          FROM sparse s FULL OUTER JOIN dense d ON s.doc_id = d.doc_id)
        SELECT doc_id, rank_sparse, rank_dense,
               CAST(rrf_q AS BIGINT) AS rrf_q
        FROM fused ORDER BY rrf_q DESC, doc_id LIMIT 10"""


def _bom_oracle() -> str:
    from det_module_spark.operators.hierarchy import closure_sql

    return closure_sql(
        """SELECT p_partkey // 4 AS parent, p_partkey AS child,
                  p_partkey % 3 + 1 AS qty
           FROM part WHERE p_partkey >= 4""",
        max_depth=16,
    )


def _pagerank_oracle() -> str:
    from det_module_spark.operators.graph import pagerank_sql

    return pagerank_sql(
        """SELECT DISTINCT o_custkey AS src, l_suppkey AS dst
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           WHERE o_orderkey < 5000""",
        iterations=3,
    )


def _morton_oracle_expr() -> str:
    from det_module_spark.operators.layout import morton_sql

    return morton_sql("l_partkey % 4096", "l_suppkey % 4096")


def _minhash_sql(num_hashes: int = 16) -> str:
    mins = ",\n      ".join(
        f"MIN((CAST({MINHASH_A[j]} AS BIGINT) * h + {MINHASH_B[j]})"
        f" % {MINHASH_P}) AS mh_{j}"
        for j in range(num_hashes)
    )
    return (
        _SHINGLES_SQL
        + f""",
    hashed AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT)
               % {MINHASH_P} AS h
      FROM sh)
    SELECT doc_id, {mins}
    FROM hashed GROUP BY doc_id
    """
    )


def _jaccard_sql(threshold: float = 0.12, max_df: int = 1000) -> str:
    return (
        _SHINGLES_SQL
        + f""",
    shh AS (SELECT doc_id,
                   CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT)
                     AS shingle
            FROM sh),
    keep AS (SELECT shingle FROM shh GROUP BY shingle
             HAVING COUNT(*) <= {max_df}),
    sh2 AS (SELECT doc_id, shingle FROM shh JOIN keep USING (shingle)),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh2 GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
      FROM sh2 a JOIN sh2 b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT id_a, id_b,
           FLOOR(CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter)
                 * 1e6 + 0.5) / 1e6 AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) >= {threshold}
    """
    )


def _bpe_cte(n_merges: int = 8, max_words: int = 200) -> str:
    """CTE chain replaying the N-round BPE fit of
    operators/bpe.bpe_merges (vocab w0 → per-round pair counts p{r},
    argmax m{r}, state w{r}). AS MATERIALIZED is load-bearing —
    DuckDB inlines CTEs by default and an N-round chain would plan in
    O(3^N) (ROUND_NOTES playbook #17). The doubled-delimiter
    ``replace(state, '|a||b|', '|ab|')`` is leftmost-non-overlapping
    in both engines, so vocab states match string-for-string."""
    parts = [
        f"""
    WITH w0 AS MATERIALIZED (
      SELECT word, freq,
             '|' || array_to_string(string_split(word, ''), '||') || '|'
               AS state
      FROM (
        SELECT word, COUNT(*) AS freq FROM (
          SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        WHERE length(word) > 0 AND word NOT LIKE '%|%'
        GROUP BY word ORDER BY freq DESC, word ASC LIMIT {max_words})
    )"""
    ]
    for r in range(1, n_merges + 1):
        parts.append(
            f""",
    s{r} AS (SELECT freq,
                    string_split(substring(state, 2, length(state) - 2),
                                 '||') AS l
             FROM w{r - 1}),
    pp{r} AS (SELECT freq,
                     unnest(list_transform(range(1, len(l)),
                            i -> struct_pack(lft := l[i],
                                             rgt := l[i + 1]))) AS p
              FROM s{r} WHERE len(l) >= 2),
    p{r} AS MATERIALIZED (
      SELECT p.lft AS lft, p.rgt AS rgt,
             CAST(SUM(freq) AS BIGINT) AS cnt
      FROM pp{r} GROUP BY 1, 2),
    m{r} AS MATERIALIZED (
      SELECT lft, rgt, lft || rgt AS merged, cnt
      FROM p{r} ORDER BY cnt DESC, lft ASC, rgt ASC LIMIT 1),
    w{r} AS MATERIALIZED (
      SELECT word, freq,
             replace(state, '|' || m.lft || '||' || m.rgt || '|',
                     '|' || m.merged || '|') AS state
      FROM w{r - 1}, m{r} m)"""
        )
    return "".join(parts)


def _bpe_sql(n_merges: int = 8, max_words: int = 200) -> str:
    unions = "\n    UNION ALL ".join(
        f"SELECT CAST({r} AS INT) AS round, lft AS \"left\","
        f" rgt AS \"right\", merged, cnt AS pair_count FROM m{r}"
        for r in range(1, n_merges + 1)
    )
    return (
        _bpe_cte(n_merges, max_words) + f"\n    {unions}\n    ORDER BY round"
    )


def _tokenizer_stats_sql(n_merges: int = 4, max_words: int = 100) -> str:
    """Oracle for q_tokenizer_stats: the same BPE fit replay, then the
    encode step as chained replaces (one per learned merge, scalar
    subqueries against the m{r} CTEs), aggregated per source."""
    st = "'|' || array_to_string(string_split(text, ''), '||') || '|'"
    for r in range(1, n_merges + 1):
        st = (
            f"replace({st},\n"
            f"      (SELECT '|' || lft || '||' || rgt || '|' FROM m{r}),\n"
            f"      (SELECT '|' || merged || '|' FROM m{r}))"
        )
    return (
        _bpe_cte(n_merges, max_words)
        + f""",
    enc AS (
      SELECT source,
             len(string_split(substring(st, 2, length(st) - 2), '||'))
               AS n_subwords,
             length(text) AS n_chars
      FROM (SELECT source, text, {st} AS st FROM documents))
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_subwords) AS BIGINT) AS sum_subwords,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           FLOOR(CAST(SUM(n_chars) AS DOUBLE) / SUM(n_subwords)
                 * 1e6 + 0.5) / 1e6 AS chars_per_subword
    FROM enc GROUP BY source ORDER BY source
    """
    )


def _cluster_reps_sql(threshold: float = 0.12, max_df: int = 1000) -> str:
    """Oracle for graph.cluster_representatives over the Jaccard pair
    graph: same recursive-CTE components as _clusters_sql, then the
    per-cluster quality argmax (token count desc, id asc)."""
    return (
        _SHINGLES_SQL
        + f""",
    shh AS (SELECT doc_id,
                   CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT)
                     AS shingle
            FROM sh),
    keep AS (SELECT shingle FROM shh GROUP BY shingle
             HAVING COUNT(*) <= {max_df}),
    sh2 AS (SELECT doc_id, shingle FROM shh JOIN keep USING (shingle)),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh2 GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
      FROM sh2 a JOIN sh2 b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    pairs AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter)
            >= {threshold}),
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION
              SELECT id_b AS a, id_a AS b FROM pairs),
    reach AS (
      WITH RECURSIVE r(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM r JOIN edges e ON r.b = e.a)
      SELECT * FROM r),
    comp AS (SELECT a AS id, LEAST(MIN(b), a) AS cluster
             FROM reach GROUP BY a),
    q AS (SELECT doc_id AS id,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS score
          FROM documents),
    total AS (SELECT q.id, q.score, COALESCE(comp.cluster, q.id) AS cluster
              FROM q LEFT JOIN comp ON comp.id = q.id),
    ranked AS (SELECT cluster, id, score,
                      ROW_NUMBER() OVER (PARTITION BY cluster
                                         ORDER BY score DESC, id ASC) AS rn,
                      COUNT(*) OVER (PARTITION BY cluster) AS cluster_size
               FROM total)
    SELECT cluster, id AS rep_id, score AS rep_score, cluster_size
    FROM ranked WHERE rn = 1
    """
    )


def _hard_negatives_sql(k: int = 3, max_anchor: int = 40) -> str:
    """Oracle for similarity.hard_negatives — the exact cosine rank
    with a cross-label predicate; same sequential-sum arithmetic as
    _cosine_sql."""
    dot = _COS64.format(a="qv", b="cv")
    nq = f"sqrt({_COS64.format(a='qv', b='qv')})"
    nc = f"sqrt({_COS64.format(a='cv', b='cv')})"
    return f"""
    WITH a AS (SELECT vec_id AS anchor_id, label AS anchor_label,
                      embedding AS qv
               FROM embeddings WHERE vec_id < {max_anchor}),
    c AS (SELECT vec_id AS negative_id, label AS neg_label,
                 embedding AS cv
          FROM embeddings),
    s AS (SELECT anchor_id, negative_id, neg_label,
                 {dot} / ({nq} * {nc}) AS cos
          FROM c, a WHERE anchor_label <> neg_label),
    r AS (SELECT anchor_id, negative_id, neg_label, cos,
                 ROW_NUMBER() OVER (PARTITION BY anchor_id
                                    ORDER BY cos DESC, negative_id ASC)
                   AS rnk
          FROM s)
    SELECT anchor_id, CAST(rnk AS INT) AS rank, negative_id, neg_label,
           FLOOR(cos * 1e6 + 0.5) / 1e6 AS cos
    FROM r WHERE rnk <= {k}
    """


def _containment_sql(threshold: float = 0.3, max_df: int = 1000) -> str:
    """Oracle for operators/dedup.containment_pairs: same shingle
    CTEs as _jaccard_sql, final ratios divide by each SIDE's shingle
    count instead of the union."""
    return (
        _SHINGLES_SQL
        + f""",
    shh AS (SELECT doc_id,
                   CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT)
                     AS shingle
            FROM sh),
    keep AS (SELECT shingle FROM shh GROUP BY shingle
             HAVING COUNT(*) <= {max_df}),
    sh2 AS (SELECT doc_id, shingle FROM shh JOIN keep USING (shingle)),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh2 GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
      FROM sh2 a JOIN sh2 b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT id_a, id_b,
           FLOOR(CAST(n_inter AS DOUBLE) / sa.sz * 1e6 + 0.5) / 1e6
             AS cont_a_in_b,
           FLOOR(CAST(n_inter AS DOUBLE) / sb.sz * 1e6 + 0.5) / 1e6
             AS cont_b_in_a
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE greatest(CAST(n_inter AS DOUBLE) / sa.sz,
                   CAST(n_inter AS DOUBLE) / sb.sz) >= {threshold}
    """
    )


def _kmv_sql(k: int = 64) -> str:
    """Oracle for operators/sketch.kmv_distinct: replay the bottom-k
    sketch (md5-derived 60-bit hash, k smallest per group) and its
    estimator — deterministic including the estimation error."""
    scale = float(k - 1) * float(1 << 60)
    return f"""
    WITH h AS (
      SELECT DISTINCT l_returnflag,
             CAST(concat('0x', substr(md5(CAST(l_partkey AS VARCHAR)),
                                      1, 15)) AS BIGINT) AS h
      FROM lineitem),
    r AS (SELECT l_returnflag, h,
                 row_number() OVER (PARTITION BY l_returnflag
                                    ORDER BY h) AS rn
          FROM h),
    agg AS (SELECT l_returnflag, COUNT(*) AS n_seen, MAX(h) AS kth
            FROM r WHERE rn <= {k} GROUP BY 1),
    ex AS (SELECT l_returnflag,
                  COUNT(DISTINCT l_partkey) AS exact_distinct
           FROM lineitem GROUP BY 1)
    SELECT a.l_returnflag,
           CASE WHEN n_seen < {k} THEN n_seen
                ELSE CAST(FLOOR({scale!r} / CAST(kth AS DOUBLE)) AS BIGINT)
           END AS est_distinct,
           exact_distinct
    FROM agg a JOIN ex USING (l_returnflag)
    ORDER BY l_returnflag
    """


def _minhash_lsh_sql(num_hashes: int = 16, bands: int = 8, rows: int = 2) -> str:
    """LSH banding over the (already oracle-matched) signature table:
    band bucket = md5 of the comma-joined signature slice; candidate
    pairs share any (band, bucket)."""
    band_selects = []
    for b in range(bands):
        cols = ", ".join(
            f"CAST(mh_{b * rows + r} AS VARCHAR)" for r in range(rows)
        )
        band_selects.append(
            f"SELECT doc_id, {b} AS band,"
            f" md5(concat_ws(',', {cols})) AS bucket FROM sigs"
        )
    bands_sql = "\n      UNION ALL ".join(band_selects)
    return (
        f"WITH sigs AS ({_minhash_sql(num_hashes)}),\n"
        f"    bkts AS ({bands_sql})\n"
        """
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bkts a JOIN bkts b
      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    """
    )


def _delta_dedup_sql(num_hashes: int = 16, bands: int = 8, rows: int = 2) -> str:
    """Incremental-dedup oracle: signatures over ALL docs (identical
    per-doc algebra to the engine's split computation), banded once,
    then delta rows (doc_id % 10 = 0) probe corpus rows (% 10 != 0)
    on (band, bucket)."""
    band_selects = []
    for b in range(bands):
        cols = ", ".join(
            f"CAST(mh_{b * rows + r} AS VARCHAR)" for r in range(rows)
        )
        band_selects.append(
            f"SELECT doc_id, {b} AS band,"
            f" md5(concat_ws(',', {cols})) AS bucket FROM sigs"
        )
    bands_sql = "\n      UNION ALL ".join(band_selects)
    return (
        f"WITH sigs AS ({_minhash_sql(num_hashes)}),\n"
        f"    bkts AS MATERIALIZED ({bands_sql})\n"
        """
    SELECT DISTINCT p.doc_id AS probe_id, i.doc_id AS index_id
    FROM bkts p JOIN bkts i
      ON p.band = i.band AND p.bucket = i.bucket
    WHERE p.doc_id % 10 = 0 AND i.doc_id % 10 <> 0
    """
    )


def _clusters_sql(threshold: float = 0.12, max_df: int = 1000) -> str:
    """Recursive-CTE connected components over the Jaccard pair graph —
    the oracle for the engine's iterative label-propagation."""
    return (
        _SHINGLES_SQL
        + f""",
    shh AS (SELECT doc_id,
                   CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT)
                     AS shingle
            FROM sh),
    keep AS (SELECT shingle FROM shh GROUP BY shingle
             HAVING COUNT(*) <= {max_df}),
    sh2 AS (SELECT doc_id, shingle FROM shh JOIN keep USING (shingle)),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh2 GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
      FROM sh2 a JOIN sh2 b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    pairs AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter)
            >= {threshold}),
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION
              SELECT id_b AS a, id_a AS b FROM pairs),
    reach AS (
      WITH RECURSIVE r(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM r JOIN edges e ON r.b = e.a)
      SELECT * FROM r),
    comp AS (SELECT a AS id, LEAST(MIN(b), a) AS cluster
             FROM reach GROUP BY a)
    SELECT doc_id AS id,
           COALESCE(comp.cluster, doc_id) AS cluster,
           CAST(doc_id = COALESCE(comp.cluster, doc_id) AS INT)
             AS is_canonical
    FROM documents LEFT JOIN comp ON comp.id = doc_id
    """
    )


def _simhash_sql(bits: int = 16) -> str:
    votes = ",\n      ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v_{i}"
        for i in range(bits)
    )
    pack = " + ".join(
        f"(CASE WHEN v_{i} > 0 THEN 1 ELSE 0 END) * {2**i}" for i in range(bits)
    )
    return f"""
    WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                FROM documents),
    tk2 AS (SELECT doc_id,
                   CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h
            FROM tk WHERE length(tok) > 0),
    votes AS (SELECT doc_id, {votes} FROM tk2 GROUP BY doc_id)
    SELECT doc_id, CAST({pack} AS BIGINT) AS simhash FROM votes
    """


def _lang_id_sql() -> str:
    langs = sorted(LANG_PROFILES)
    scores = ",\n      ".join(
        "len(list_filter(string_split(text, ' '), x -> x IN ({words})))"
        " AS score_{lang}".format(
            words=", ".join(f"'{w}'" for w in LANG_PROFILES[lang]), lang=lang
        )
        for lang in langs
    )
    best = "greatest(" + ", ".join(f"score_{lg}" for lg in langs) + ")"
    case = " ".join(
        f"WHEN score_{lg} = {best} THEN '{lg}'" for lg in langs
    )
    return f"""
    WITH scored AS (SELECT doc_id, {scores} FROM documents)
    SELECT doc_id,
           CASE WHEN {best} = 0 THEN 'und' {case} END AS lang_pred,
           {", ".join(f"score_{lg}" for lg in langs)}
    FROM scored
    """


_COS64 = (
    "list_sum(list_transform(range(1, 65),"
    " i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)


def _cosine_sql() -> str:
    dot = _COS64.format(a="qv", b="cv")
    nq = f"sqrt({_COS64.format(a='qv', b='qv')})"
    nc = f"sqrt({_COS64.format(a='cv', b='cv')})"
    return f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
    s AS (SELECT query_id, neighbor_id, {dot} / ({nq} * {nc}) AS cos
          FROM c, q WHERE query_id <> neighbor_id),
    r AS (SELECT query_id, neighbor_id, cos,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cos DESC, neighbor_id ASC) AS rnk
          FROM s)
    SELECT query_id, CAST(rnk AS INT) AS rank, neighbor_id,
           FLOOR(cos * 1e6 + 0.5) / 1e6 AS cos
    FROM r WHERE rnk <= 5
    """


#: Spark approx_count_distinct outputs per SF. HLL++ register merge is
#: max() — partition-order independent — so for a fixed data set the
#: estimate is a deterministic value, pinnable as a golden
#: (VERDICT r01 #4 option (a)). Re-pin if the testdata generator or
#: the Spark version changes.
_HLL_GOLDENS = {
    "sf0.001": (195, 10),
    "sf0.01": (1947, 103),
    "sf0.1": (19522, 1026),
}


def _approx_stats_sql() -> str:
    import os

    sf = os.path.basename(
        os.environ.get("SPARK_GRAFT_SF_DIR", "sf0.01").rstrip("/")
    )
    if sf not in _HLL_GOLDENS:
        # fail loudly rather than compare against another SF's pinned
        # HLL values — a silent sf0.01 fallback would report a
        # confusing value mismatch at any new scale factor (ADVICE
        # r02). Pin new goldens by running the Spark query once at the
        # new SF (the HLL register-merge is partition-independent).
        raise ValueError(
            f"approx_stats has no pinned HLL goldens for {sf!r}; "
            f"known: {sorted(_HLL_GOLDENS)}"
        )
    ndp, nds = _HLL_GOLDENS[sf]
    # exact order statistic at rank ceil(p*n), 1-indexed ascending
    # (percentile_approx's selection rule, verified empirically on
    # awkward n); coarse-valued l_quantity makes the GK ±1-rank merge
    # slack value-invisible
    q = (
        "(SELECT v FROM s, nn WHERE rn = CAST(CEIL({p} * nn.n) AS BIGINT))"
    )
    return f"""
    WITH nn AS (SELECT COUNT(*) AS n FROM lineitem),
    s AS (SELECT l_quantity AS v,
                 ROW_NUMBER() OVER (ORDER BY l_quantity) AS rn
          FROM lineitem)
    SELECT CAST({ndp} AS BIGINT) AS nd_partkey,
           CAST({nds} AS BIGINT) AS nd_suppkey,
           {q.format(p=0.5)} AS qty_p50,
           {q.format(p=0.95)} AS qty_p95,
           {q.format(p=0.99)} AS qty_p99
    """


# quantized int64 vector (operators/similarity.VEC_QUANT discipline):
# floor(v·1024 + 0.5) — 1024 is a power of two so v·1024 is exact, and
# every downstream dot product is exact integer arithmetic shared
# bit-for-bit with the Spark kernels.
_VQ64 = (
    "list_transform({v}, x ->"
    " CAST(FLOOR(CAST(x AS DOUBLE) * 1024 + 0.5) AS BIGINT))"
)
_IDOT64 = "list_sum(list_transform(range(1, 65), i -> {a}[i] * {b}[i]))"


def _rerank_sql(cand_cte: str) -> str:
    """Shared tail: exact cosine re-rank of a (query_id, neighbor_id)
    candidate CTE named ``cand``, top-5 per query."""
    dot = _COS64.format(a="qv", b="cv")
    nq = f"sqrt({_COS64.format(a='qv', b='qv')})"
    nc = f"sqrt({_COS64.format(a='cv', b='cv')})"
    return f"""{cand_cte},
    pairs AS (SELECT cand.query_id, cand.neighbor_id,
                     eq.embedding AS qv, ec.embedding AS cv
              FROM cand
              JOIN embeddings eq ON eq.vec_id = cand.query_id
              JOIN embeddings ec ON ec.vec_id = cand.neighbor_id),
    scored AS (SELECT query_id, neighbor_id,
                      {dot} / ({nq} * {nc}) AS cos
               FROM pairs),
    ranked AS (SELECT query_id, neighbor_id, cos,
                      ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY cos DESC,
                                                  neighbor_id ASC) AS rnk
               FROM scored)
    SELECT query_id, CAST(rnk AS INT) AS rank, neighbor_id,
           FLOOR(cos * 1e6 + 0.5) / 1e6 AS cos
    FROM ranked WHERE rnk <= 5
    """


def _lsh_sig_ctes(n_tables: int = 8, n_planes: int = 4) -> str:
    """Shared WITH-prefix ending in ``sigs`` = every vector's (table,
    bucket) signature: recompute the md5-derived integer planes
    (operators/similarity._plane_center) and the quantized integer
    signatures in DuckDB SQL. Deterministic because every sign
    decision is exact int64 arithmetic on both engines."""
    hex16 = "0123456789abcdef"
    return f"""
    WITH planes AS (
      SELECT t.t, p.p, d.d,
             2 * list_reduce(
                   list_transform(range(1, 9), i ->
                     CAST(strpos('{hex16}',
                          substr(md5('rhp:' || CAST(t.t * 1000 + p.p AS VARCHAR)
                                    || ':' || CAST(d.d AS VARCHAR)), i, 1))
                          - 1 AS BIGINT)),
                   (a, b) -> a * 16 + b)
               - 4294967296 AS pc
      FROM range(0, {n_tables}) t(t), range(0, {n_planes}) p(p),
           range(0, 64) d(d)),
    pl AS (SELECT t, p, list(pc ORDER BY d) AS pl
           FROM planes GROUP BY t, p),
    vq AS (SELECT vec_id, {_VQ64.format(v='embedding')} AS q
           FROM embeddings),
    dots AS (SELECT v.vec_id, pl.t, pl.p,
                    {_IDOT64.format(a='v.q', b='pl.pl')} AS dot
             FROM vq v, pl),
    sigs AS (SELECT vec_id, t,
                    SUM(CASE WHEN dot > 0
                             THEN (CAST(1 AS BIGINT) << p) ELSE 0 END)
                      AS bucket
             FROM dots GROUP BY vec_id, t)"""


def _lsh_sql(n_tables: int = 8, n_planes: int = 4) -> str:
    """Full-replica oracle for the hyperplane-LSH ANN path: signature
    CTEs (_lsh_sig_ctes) + the (table, bucket) candidate join + the
    exact cosine re-rank."""
    cand = f"""{_lsh_sig_ctes(n_tables, n_planes)},
    qsig AS (SELECT * FROM sigs WHERE vec_id < 10),
    cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
             FROM sigs c JOIN qsig q ON c.t = q.t AND c.bucket = q.bucket
             WHERE q.vec_id <> c.vec_id)"""
    return _rerank_sql(cand)


def _dedup_lsh_sql(
    threshold: float = 0.35, n_tables: int = 8, n_planes: int = 4
) -> str:
    """Oracle for the LSH→exact near-dup composition
    (operators/dedup.embedding_near_dup_lsh): replay the bucket
    assignment exactly (same int64 signature arithmetic as
    _lsh_sql), take DISTINCT candidate pairs from the (table, bucket)
    self-join, then the exact double-precision cosine predicate —
    the same sequential-sum arithmetic as the Spark kernel."""
    dot = _COS64.format(a="va", b="vb")
    na = f"sqrt({_COS64.format(a='va', b='va')})"
    nb = f"sqrt({_COS64.format(a='vb', b='vb')})"
    return f"""{_lsh_sig_ctes(n_tables, n_planes)},
    cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
             FROM sigs a JOIN sigs b ON a.t = b.t AND a.bucket = b.bucket
             WHERE a.vec_id < b.vec_id),
    pairs AS (SELECT cand.id_a, cand.id_b,
                     ea.embedding AS va, eb.embedding AS vb
              FROM cand
              JOIN embeddings ea ON ea.vec_id = cand.id_a
              JOIN embeddings eb ON eb.vec_id = cand.id_b),
    scored AS (SELECT id_a, id_b, {dot} / ({na} * {nb}) AS cos
               FROM pairs)
    SELECT id_a, id_b, FLOOR(cos * 1e6 + 0.5) / 1e6 AS cos
    FROM scored WHERE cos >= {threshold}
    """


def _ivf_fit_ctes(
    k_cells: int = 16, iterations: int = 5, sample: int = 2000
) -> str:
    """Shared WITH-prefix: exact integer k-means fit (unrolled) +
    ``corpus_cell`` = every vector's nearest final centroid. The fit
    is bit-identical to operators/similarity.ivf_fit_centroids
    (centroid state = int64 member sums, score = int_dot/‖S‖, ties →
    lowest cell)."""
    score = (
        f"CAST({_IDOT64.format(a='s.q', b='c.s')} AS DOUBLE)"
        f" / sqrt(CAST({_IDOT64.format(a='c.s', b='c.s')} AS DOUBLE))"
    )
    parts = [f"""
    WITH vq AS (SELECT vec_id, {_VQ64.format(v='embedding')} AS q
                FROM embeddings),
    samp AS (SELECT vec_id, q,
                    ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS ri
             FROM (SELECT * FROM vq ORDER BY vec_id LIMIT {sample})),
    nn AS (SELECT COUNT(*) AS n FROM samp),
    cent0 AS (
      SELECT j.j, s.q AS s
      FROM range(0, {k_cells}) j(j), nn, samp s
      WHERE s.ri = CAST(FLOOR(j.j * ((nn.n - 1) / {k_cells - 1}.0))
                        AS BIGINT))"""]
    for r in range(1, iterations + 1):
        prev = f"cent{r - 1}"
        parts.append(f""",
    asg{r} AS (
      SELECT vec_id, j FROM (
        SELECT s.vec_id, c.j,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id
                                  ORDER BY {score} DESC, c.j ASC) AS rn
        FROM samp s, {prev} c) WHERE rn = 1),
    cent{r} AS (
      SELECT p.j, COALESCE(cn.s, p.s) AS s
      FROM {prev} p LEFT JOIN (
        SELECT j, list_transform(range(1, 65), i ->
                 CAST(list_sum(list_transform(qs, q -> q[i])) AS BIGINT))
                 AS s
        FROM (SELECT a.j, list(s.q) AS qs
              FROM asg{r} a JOIN samp s USING (vec_id) GROUP BY a.j))
        cn ON p.j = cn.j)""")
    final = f"cent{iterations}"
    parts.append(f""",
    corpus_cell AS (
      SELECT vec_id AS neighbor_id, j AS cell FROM (
        SELECT s.vec_id, c.j,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id
                                  ORDER BY {score} DESC, c.j ASC) AS rn
        FROM vq s, {final} c) WHERE rn = 1)""")
    return "".join(parts)


def _ivf_sql(
    k_cells: int = 16, n_probe: int = 4, iterations: int = 5,
    sample: int = 2000,
) -> str:
    """Full-replica oracle for the IVF ANN path, INCLUDING the k-means
    fit (see _ivf_fit_ctes); then query cell assignment, the
    cell-candidate join, and the exact cosine re-rank."""
    score = (
        f"CAST({_IDOT64.format(a='s.q', b='c.s')} AS DOUBLE)"
        f" / sqrt(CAST({_IDOT64.format(a='c.s', b='c.s')} AS DOUBLE))"
    )
    final = f"cent{iterations}"
    tail = f""",
    query_cell AS (
      SELECT vec_id AS query_id, j AS cell FROM (
        SELECT s.vec_id, c.j,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id
                                  ORDER BY {score} DESC, c.j ASC) AS rn
        FROM vq s, {final} c WHERE s.vec_id < 10) WHERE rn <= {n_probe}),
    cand AS (SELECT DISTINCT query_id, neighbor_id
             FROM corpus_cell JOIN query_cell USING (cell)
             WHERE query_id <> neighbor_id)"""
    return _materialize_ctes(
        _rerank_sql(_ivf_fit_ctes(k_cells, iterations, sample) + tail)
    )


def _polygon_metrics_sql() -> str:
    rings = _POLY_RINGS + [
        (3, [(0.5, 0.5), (8.5, 0.5), (0.5, 8.5)]),
        (4, [(9.5, 9.5), (1.5, 9.5), (9.5, 1.5)]),
    ]
    vals = ",\n              ".join(
        "({}, [{}])".format(
            i,
            ", ".join(
                "{{'x': {}, 'y': {}}}".format(x, y) for x, y in ring
            ),
        )
        for i, ring in rings
    )
    cross = "(r[i].x * r[1 + (i % n)].y - r[1 + (i % n)].x * r[i].y)"
    return f"""
    WITH b(asdf_id, r) AS (VALUES
              {vals}),
    m AS (SELECT asdf_id, r, len(r) AS n FROM b),
    c AS (SELECT asdf_id,
      list_sum(list_transform(range(1, n + 1), i -> {cross})) AS signed,
      list_sum(list_transform(range(1, n + 1), i -> sqrt(
        (r[1 + (i % n)].x - r[i].x) * (r[1 + (i % n)].x - r[i].x)
        + (r[1 + (i % n)].y - r[i].y) * (r[1 + (i % n)].y - r[i].y))))
        AS perim,
      list_sum(list_transform(range(1, n + 1),
        i -> (r[i].x + r[1 + (i % n)].x) * {cross})) AS cxs,
      list_sum(list_transform(range(1, n + 1),
        i -> (r[i].y + r[1 + (i % n)].y) * {cross})) AS cys
      FROM m)
    SELECT CAST(asdf_id AS INT) AS asdf_id,
           FLOOR(abs(signed) / 2 * 1e6 + 0.5) / 1e6 AS area,
           FLOOR(perim * 1e6 + 0.5) / 1e6 AS perimeter,
           FLOOR(cxs / (3 * signed) * 1e6 + 0.5) / 1e6 AS cx,
           FLOOR(cys / (3 * signed) * 1e6 + 0.5) / 1e6 AS cy
    FROM c
    """


def _materialize_ctes(sql: str) -> str:
    """Mark every CTE in a generated oracle as MATERIALIZED. The
    unrolled k-means chains reference each prior round ~3x; DuckDB
    inlines CTEs by default, so the expression tree grows 3^rounds
    per subspace (PQ: >10 min to plan). Materialization makes replay
    linear (~2 s)."""
    import re

    return re.sub(r"(\s[A-Za-z_][A-Za-z0-9_]*\s+AS)\s*\(", r"\1 MATERIALIZED (", sql)


def _pq_sql(
    m: int = 8, k: int = 16, iterations: int = 5, sample: int = 2000,
    dim: int = 64, topk: int = 5, shortlist: int = 50,
) -> str:
    """Full-replica oracle for the PQ ANN path: per-subspace exact
    integer L2 k-means (unrolled), corpus encoding, per-query
    asymmetric-distance LUTs, fixed-order distance fold, rank. Every
    decision (assignment argmin, code argmin) is integer arithmetic;
    every float op is the same op sequence as the numpy kernels."""
    dsub = dim // m

    def idot(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(range(1, {dsub + 1}),"
            f" i -> {a}[i] * {b}[i]))"
        )

    score = (
        f"CAST(-2 * {idot('s.x', 'c.S')} * c.n + {idot('c.S', 'c.S')}"
        f" AS DOUBLE) / CAST(c.n * c.n AS DOUBLE)"
    )
    parts = [f"""
    WITH vq AS (SELECT vec_id, {_VQ64.format(v='embedding')} AS q
                FROM embeddings),
    sampi AS (SELECT vec_id, q,
                     ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS ri
              FROM (SELECT * FROM vq ORDER BY vec_id LIMIT {sample})),
    nn AS (SELECT COUNT(*) AS n FROM sampi)"""]
    for s in range(m):
        off = s * dsub
        parts.append(f""",
    sub{s} AS (SELECT vec_id,
                      list_transform(range(1, {dsub + 1}),
                                     i -> q[{off} + i]) AS x
               FROM vq),
    samp{s} AS (SELECT sa.ri, sa.vec_id, b.x
                FROM sampi sa JOIN sub{s} b USING (vec_id)),
    pc{s}_0 AS (
      SELECT j.j, s.x AS S, CAST(1 AS BIGINT) AS n
      FROM range(0, {k}) j(j), nn, samp{s} s
      WHERE s.ri = CAST(FLOOR(j.j * ((nn.n - 1) / {k - 1}.0))
                        AS BIGINT))""")
        for r in range(1, iterations + 1):
            prev = f"pc{s}_{r - 1}"
            parts.append(f""",
    pa{s}_{r} AS (
      SELECT vec_id, j FROM (
        SELECT s.vec_id, c.j,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id
                                  ORDER BY {score} ASC, c.j ASC) AS rn
        FROM samp{s} s, {prev} c) WHERE rn = 1),
    pc{s}_{r} AS (
      SELECT p.j, COALESCE(cn.S, p.S) AS S, COALESCE(cn.n, p.n) AS n
      FROM {prev} p LEFT JOIN (
        SELECT j,
               list_transform(range(1, {dsub + 1}), i ->
                 CAST(list_sum(list_transform(xs, x -> x[i])) AS BIGINT))
                 AS S,
               CAST(len(xs) AS BIGINT) AS n
        FROM (SELECT a.j, list(s.x) AS xs
              FROM pa{s}_{r} a JOIN samp{s} s USING (vec_id)
              GROUP BY a.j)) cn ON p.j = cn.j)""")
        fin = f"pc{s}_{iterations}"
        parts.append(f""",
    code{s} AS (
      SELECT vec_id, j AS code FROM (
        SELECT s.vec_id, c.j,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id
                                  ORDER BY {score} ASC, c.j ASC) AS rn
        FROM sub{s} s, {fin} c) WHERE rn = 1),
    lut{s} AS (
      SELECT b.vec_id AS query_id, c.j,
             CAST({idot('b.x', 'b.x')} AS DOUBLE)
             - 2.0 * CAST({idot('b.x', 'c.S')} AS DOUBLE)
                   / CAST(c.n AS DOUBLE)
             + CAST({idot('c.S', 'c.S')} AS DOUBLE)
                   / CAST(c.n * c.n AS DOUBLE) AS d
      FROM sub{s} b, {fin} c WHERE b.vec_id < 10)""")
    code_joins = " ".join(
        f"JOIN code{s} c{s} ON c{s}.vec_id = c0.vec_id" for s in range(1, m)
    )
    lut_joins = " ".join(
        f"JOIN lut{s} l{s} ON l{s}.query_id = l0.query_id"
        f" AND l{s}.j = w.k{s}"
        for s in range(1, m)
    )
    ksel = ", ".join(f"c{s}.code AS k{s}" for s in range(m))
    # left fold from 0.0 — the exact association of Spark's aggregate()
    dist_sum = "0.0"
    for s in range(m):
        dist_sum = f"({dist_sum} + l{s}.d)"
    parts.append(f""",
    codes_wide AS (SELECT c0.vec_id, {ksel}
                   FROM code0 c0 {code_joins}),
    dist AS (
      SELECT l0.query_id, w.vec_id AS neighbor_id,
             {dist_sum} AS adist
      FROM codes_wide w
      JOIN lut0 l0 ON l0.j = w.k0
      {lut_joins}
      WHERE w.vec_id <> l0.query_id),
    ranked AS (
      SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY adist ASC, neighbor_id ASC)
               AS rnk
      FROM dist),
    cand AS (SELECT query_id, neighbor_id FROM ranked
             WHERE rnk <= {shortlist}),
    rr AS (
      SELECT c.query_id, c.neighbor_id,
             CAST(list_sum(list_transform(range(1, {dim + 1}),
                  i -> (qv.q[i] - nv.q[i]) * (qv.q[i] - nv.q[i])))
               AS BIGINT) AS d2
      FROM cand c
      JOIN vq qv ON qv.vec_id = c.query_id
      JOIN vq nv ON nv.vec_id = c.neighbor_id),
    rr2 AS (
      SELECT query_id, neighbor_id, d2,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY d2 ASC, neighbor_id ASC) AS rnk
      FROM rr)
    SELECT query_id, CAST(rnk AS INT) AS rank, neighbor_id, d2
    FROM rr2 WHERE rnk <= {topk}
    """)
    return _materialize_ctes("".join(parts))


def _semantic_dedup_sql(
    k_cells: int = 16, threshold: float = 0.92, iterations: int = 5,
    sample: int = 2000,
) -> str:
    """Oracle for SemDeDup: same integer k-means fit + cell
    assignment, then within-cell pairwise cosine; a vector with a
    lower-id neighbor at cos ≥ threshold is dropped."""
    dot = _COS64.format(a="av", b="bv")
    na = f"sqrt({_COS64.format(a='av', b='av')})"
    nb = f"sqrt({_COS64.format(a='bv', b='bv')})"
    tail = f""",
    assigned AS (SELECT neighbor_id AS vec_id, cell FROM corpus_cell),
    pairs AS (
      SELECT x.cell, x.vec_id AS id_a, y.vec_id AS id_b,
             ea.embedding AS av, eb.embedding AS bv
      FROM assigned x
      JOIN assigned y ON x.cell = y.cell AND x.vec_id < y.vec_id
      JOIN embeddings ea ON ea.vec_id = x.vec_id
      JOIN embeddings eb ON eb.vec_id = y.vec_id),
    dups AS (
      SELECT DISTINCT cell, id_b AS vec_id FROM pairs
      WHERE {dot} / ({na} * {nb}) >= {threshold}),
    dropped AS (SELECT cell, COUNT(*) AS n_dropped_in_cell
                FROM dups GROUP BY cell)
    SELECT a.vec_id, CAST(a.cell AS INT) AS cell,
           COALESCE(d.n_dropped_in_cell, 0) AS n_dropped_in_cell
    FROM assigned a
    LEFT JOIN (SELECT vec_id FROM dups) x ON a.vec_id = x.vec_id
    LEFT JOIN dropped d ON a.cell = d.cell
    WHERE x.vec_id IS NULL
    """
    return _materialize_ctes(_ivf_fit_ctes(k_cells, iterations, sample) + tail)


def oracle_sql() -> dict[str, str]:
    from det_module_spark.operators.graph import label_propagation_sql

    freq_sql = (
        CELLS_SQL
        + """, counts AS (
  SELECT asdf_id, value, COUNT(*) AS cnt FROM cells
  WHERE value IS NOT NULL GROUP BY asdf_id, value
)
SELECT asdf_id, value AS exfield_0 FROM counts
QUALIFY ROW_NUMBER() OVER (
  PARTITION BY asdf_id ORDER BY cnt {dir}, value ASC) = 1
"""
    )
    out = {
        "zonal_mean": _zonal_sql("AVG(value) AS exfield_0"),
        "zonal_count": _zonal_sql("COUNT(value) AS exfield_0"),
        "zonal_sum": _zonal_sql("SUM(value) AS exfield_0"),
        "zonal_min": _zonal_sql("MIN(value) AS exfield_0"),
        "zonal_max": _zonal_sql("MAX(value) AS exfield_0"),
        "zonal_weighted_mean": _zonal_sql(
            "SUM(value * coverage) / SUM(coverage) AS exfield_0"
        ),
        "zonal_weighted_count": _zonal_sql("SUM(coverage) AS exfield_0"),
        "zonal_weighted_sum": _zonal_sql("SUM(value * coverage) AS exfield_0"),
        "zonal_categorical": _zonal_sql(
            ", ".join(
                f"COUNT(*) FILTER (WHERE category = '{c}') AS \"exfield_{c}\""
                for c in CATEGORIES
            )
        ),
        "zonal_reliability": _zonal_sql(
            "SUM(value) AS exfield_sum, SUM(potential) AS exfield_potential, "
            "SUM(value) / SUM(potential) AS exfield_reliability"
        ),
        "zonal_std": _zonal_sql(_pround_sql("STDDEV_SAMP(value)", 4) + " AS exfield_0"),
        "zonal_median": _zonal_sql("MEDIAN(value) AS exfield_0"),
        "zonal_majority": freq_sql.format(dir="DESC"),
        "zonal_minority": freq_sql.format(dir="ASC"),
        "zonal_unique": _zonal_sql("COUNT(DISTINCT value) AS exfield_0"),
        "zonal_range": _zonal_sql("MAX(value) - MIN(value) AS exfield_0"),
        "zonal_percentile_25": _zonal_sql(
            "QUANTILE_CONT(value, 0.25) AS exfield_0"
        ),
        "zonal_var": _zonal_sql(_pround_sql("VAR_SAMP(value)", 2) + " AS exfield_0"),
        "zonal_mode": freq_sql.format(dir="DESC"),
        "queue_scan": """
            SELECT o_orderkey, o_orderpriority,
                   strftime(o_orderdate, '%Y-%m-%d') AS submit_date
            FROM orders WHERE o_orderstatus = 'O'
            ORDER BY o_orderpriority DESC, o_orderdate ASC, o_orderkey ASC
            LIMIT 20
        """,
        "two_phase_poll": """
            (SELECT 0 AS poll_phase, o_orderkey, o_orderpriority
             FROM orders WHERE o_orderstatus = 'F'
             ORDER BY o_orderpriority DESC, o_orderdate, o_orderkey LIMIT 10)
            UNION ALL
            (SELECT 1 AS poll_phase, o_orderkey, o_orderpriority
             FROM orders WHERE o_orderstatus = 'O'
             ORDER BY o_orderpriority DESC, o_orderdate, o_orderkey LIMIT 10)
        """,
        "point_lookup": """
            SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
            FROM orders
            WHERE o_orderkey = (SELECT MIN(o_orderkey) FROM orders)
        """,
        "release_filters": """
            SELECT l_returnflag,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   FLOOR(SUM(l_extendedprice) * 1e2 + 0.5) / 1e2 AS sum_price
            FROM lineitem
            WHERE l_returnflag IN ('A', 'R')
              AND l_shipdate >= TIMESTAMP '1994-01-01'
              AND l_shipdate < TIMESTAMP '1996-01-01'
              AND l_quantity BETWEEN 10 AND 20
            GROUP BY l_returnflag
        """,
        "catalog_join": """
            SELECT r_name,
                   CAST(COUNT(*) AS BIGINT) AS n_customers,
                   FLOOR(SUM(c_acctbal) * 1e2 + 0.5) / 1e2 AS sum_acctbal
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
        """,
        "wide_merge": CELLS_SQL
        + """,
            m AS (SELECT asdf_id, AVG(value) AS v FROM cells GROUP BY asdf_id),
            r AS (SELECT asdf_id, SUM(value) AS s, SUM(potential) AS p
                  FROM cells GROUP BY asdf_id),
            c AS (SELECT asdf_id,
                         COUNT(*) FILTER (WHERE category='A') AS ca,
                         COUNT(*) FILTER (WHERE category='N') AS cn,
                         COUNT(*) FILTER (WHERE category='R') AS cr
                  FROM cells GROUP BY asdf_id)
            SELECT m.asdf_id,
                   m.v AS "udel_precip_v401_sum.1998.mean",
                   r.s AS "aiddata_v3.0123456.sum",
                   r.p AS "aiddata_v3.0123456.potential",
                   r.s / r.p AS "aiddata_v3.0123456.reliability",
                   c.ca AS "landcover.2000.categorical_A",
                   c.cn AS "landcover.2000.categorical_N",
                   c.cr AS "landcover.2000.categorical_R",
                   'zone_' || CAST(m.asdf_id AS VARCHAR) AS zone_name
            FROM m JOIN r USING (asdf_id) JOIN c USING (asdf_id)
        """,
        "cache_anti_join": """
            SELECT o_orderkey FROM orders
            WHERE NOT EXISTS (
              SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > TIMESTAMP '1998-08-01')
        """,
        "semi_join": """
            SELECT o_orderkey, o_totalprice FROM orders
            WHERE EXISTS (
              SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_quantity > 49)
        """,
        "union_distinct": """
            SELECT c_nationkey AS nationkey FROM customer
            UNION
            SELECT s_nationkey AS nationkey FROM supplier
        """,
        "except_distinct": """
            SELECT DISTINCT o_custkey AS custkey FROM orders
            EXCEPT
            SELECT c_custkey AS custkey FROM customer WHERE c_acctbal < 0
        """,
        "intersect_distinct": """
            SELECT DISTINCT c_custkey AS custkey FROM customer
            INTERSECT
            SELECT DISTINCT o_custkey AS custkey FROM orders
        """,
        "msr_pipeline": """
            WITH locs AS (
              SELECT l_orderkey AS project_id,
                     (l_partkey % 720) * 0.5 - 180.0 AS lon,
                     (l_suppkey % 360) * 0.5 - 90.0 AS lat,
                     o_totalprice AS total_commitments
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
            cnt AS (SELECT project_id, COUNT(*) AS n
                    FROM locs GROUP BY project_id),
            alloc AS (
              SELECT locs.*,
                     FLOOR(total_commitments / n * 100 + 0.5) AS alloc_cents,
                     FLOOR(total_commitments * 100 + 0.5) AS pot_cents
              FROM locs JOIN cnt USING (project_id))
            SELECT CAST(FLOOR(lon / 0.05) AS BIGINT) AS cell_x,
                   CAST(FLOOR(lat / 0.05) AS BIGINT) AS cell_y,
                   SUM(alloc_cents) / 100 AS "sum",
                   SUM(pot_cents) / 100 AS potential,
                   FLOOR(SUM(alloc_cents) / SUM(pot_cents) * 1e6 + 0.5)
                     / 1e6 AS reliability
            FROM alloc GROUP BY 1, 2
        """,
        "scalar_functions": """
            SELECT p_partkey,
                   substring(md5(p_name), 1, 7) AS name_hash7,
                   string_split(p_type, ' ')[-1] AS type_last,
                   replace(p_brand, '#', '_') AS brand_key,
                   concat_ws('.', p_brand, p_type) AS dotted,
                   CAST(starts_with(p_type, 'ECONOMY') AS INT) AS is_economy,
                   CAST(ends_with(p_type, 'STEEL') AS INT) AS is_steel,
                   upper(substring(p_name, 1, 5)) AS name5
            FROM part
        """,
        "temporal_sort": """
            SELECT event_type,
                   array_to_string(
                     list_sort(list(DISTINCT EXTRACT(year FROM ts)), 'DESC'),
                     ',') AS years_desc
            FROM events GROUP BY event_type
        """,
        "window_topk": """
            SELECT o_orderpriority, rn, o_orderkey, o_totalprice FROM (
              SELECT o_orderpriority, o_orderkey, o_totalprice,
                     ROW_NUMBER() OVER (
                       PARTITION BY o_orderpriority
                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
              FROM orders) t
            WHERE rn <= 3
        """,
        "window_running": """
            SELECT o_custkey, o_orderkey,
                   FLOOR(SUM(o_totalprice) OVER (
                     PARTITION BY o_custkey
                     ORDER BY o_orderdate ASC, o_orderkey ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     * 1e2 + 0.5) / 1e2 AS running_total
            FROM orders WHERE o_custkey < 500
        """,
        "dedup_exact": """
            SELECT md5(substr(text, 1, 24)) AS content_key,
                   MIN(doc_id) AS keep_id,
                   COUNT(*) AS n_dups
            FROM documents GROUP BY 1
        """,
        "text_quality": """
            WITH t AS (
              SELECT doc_id, text,
                     CAST(length(text) AS BIGINT) AS q_n_chars,
                     CAST(len(string_split(text, ' ')) AS BIGINT) AS q_n_tokens,
                     len(list_filter(string_split(text, ' '),
                         x -> x IN ('the','a','of','and','to','in','is',
                                    'that','it','for'))) AS stop_hits,
                     len(list_distinct(string_split(text, ' '))) AS n_distinct
              FROM documents)
            SELECT doc_id, q_n_chars, q_n_tokens,
                   FLOOR(CAST(q_n_chars - q_n_tokens + 1 AS DOUBLE)
                         / q_n_tokens * 1e6 + 0.5) / 1e6 AS q_mean_token_len,
                   FLOOR(CAST(stop_hits AS DOUBLE) / q_n_tokens * 1e6 + 0.5)
                     / 1e6 AS q_stopword_ratio,
                   FLOOR(CAST(n_distinct AS DOUBLE) / q_n_tokens * 1e6 + 0.5)
                     / 1e6 AS q_distinct_ratio
            FROM t
        """,
        "text_lang_id": _lang_id_sql(),
        "doc_fingerprint": """
            SELECT doc_id,
                   md5(array_to_string(
                     list_sort(list_distinct(string_split(text, ' '))), ' '))
                     AS fingerprint
            FROM documents
        """,
        "minhash_signatures": _minhash_sql(16),
        "dedup_minhash_lsh": _minhash_lsh_sql(16, bands=8, rows=2),
        "dedup_ngram_jaccard": _jaccard_sql(0.12),
        "dedup_simhash": _simhash_sql(16),
        "similarity_cosine_topk": _cosine_sql(),
        "similarity_lsh_topk": _lsh_sql(),
        "join_delta": _JOIN_DELTA_SQL,
        "join_delta_retract": _JOIN_DELTA_RETRACT_SQL,
        "events_running_totals": _EVENTS_RUNNING_TOTALS_SQL,
        "events_topk_stream": _EVENTS_TOPK_SQL,
        "events_bucket_stream": _EVENTS_BUCKET_SQL,
        "events_session_flush": _EVENTS_SESSION_FLUSH_SQL,
        "dense_ids": _DENSE_IDS_SQL,
        "kmv_set_ops": _kmv_set_sql(64),
        "source_overlap": _source_overlap_sql(0.12),
        "span_strip": _SPAN_STRIP_SQL,
        "leakage_safe_split": _leakage_split_sql(0.12),
        "kv_records": _KV_RECORDS_SQL,
        "asof_forward_tolerance": _ASOF_FORWARD_SQL,
        "lpa_communities": label_propagation_sql(_LPA_EDGES_SQL, 3)
        + " ORDER BY id",
        "entity_resolution": _ENTITY_RESOLUTION_SQL,
        "sample_k_per_group": _SAMPLE_K_SQL,
        "events_dedup_stream": _EVENTS_DEDUP_STREAM_SQL,
        "tokenizer_stats": _tokenizer_stats_sql(4, 100),
        "bpe_merges": _bpe_sql(8, 200),
        "shard_plan": """
            WITH s AS (
              SELECT source, doc_id, n_chars,
                     COALESCE(SUM(n_chars) OVER (
                       PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS start
              FROM documents)
            SELECT source, CAST(start // 32768 AS BIGINT) AS shard,
                   COUNT(*) AS n_rows,
                   CAST(SUM(n_chars) AS BIGINT) AS shard_bytes,
                   MIN(doc_id) AS first_key,
                   MAX(doc_id) AS last_key
            FROM s GROUP BY source, shard
            ORDER BY source, shard
        """,
        "temperature_mixture": """
            WITH c AS (SELECT source, COUNT(*) AS n
                       FROM documents GROUP BY source),
            w AS (SELECT source, n,
                         CAST(FLOOR(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS w
                  FROM c),
            tot AS (SELECT SUM(w) AS tw, SUM(n) AS budget FROM w),
            rated AS (
              SELECT d.doc_id, d.source,
                     CAST((1000000 * budget * w.w) // (tw * w.n) AS BIGINT) AS rm
              FROM documents d JOIN w ON w.source = d.source, tot),
            cop AS (
              SELECT doc_id, source, rm,
                     unnest(range(0, rm // 1000000 + 1)) AS copy
              FROM rated)
            SELECT doc_id, source, copy FROM cop
            WHERE copy < rm // 1000000
               OR CAST(concat('0x',
                    substr(md5(concat('s0:', CAST(doc_id AS VARCHAR), ':',
                                      CAST(copy AS VARCHAR))), 1, 15))
                  AS BIGINT) % 1000000 < rm % 1000000
        """,
        "cluster_representatives": _cluster_reps_sql(0.12),
        "hard_negatives": _hard_negatives_sql(3, 40),
        "containment_dedup": _containment_sql(0.3),
        "kmv_distinct": _kmv_sql(64),
        "span_dedup": _SPAN_DEDUP_SQL,
        "time_fill_linear": _TIME_FILL_LINEAR_SQL,
        "dedup_embedding_lsh": _dedup_lsh_sql(0.35),
        "skew_join_agg": _SKEW_JOIN_SQL,
        "skew_salted_join": _SKEW_JOIN_SQL,
        "events_watermark": _EVENTS_WATERMARK_SQL,
        "similarity_ivf_topk": _ivf_sql(),
        "semantic_dedup": _semantic_dedup_sql(threshold=0.4),
        "similarity_pq_topk": _pq_sql(),
        # approx_stats is conditionally added after this dict: at an
        # SF with no pinned HLL goldens it must be UN-ORACLED (driver
        # falls back to the rows-only check) rather than silently
        # compared against another SF's pinned values (ADVICE r02)
        "multimodal_decode": """
            SELECT doc_id AS media_id,
                   CASE CAST(doc_id % 3 AS INT)
                     WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                     ELSE 'video' END AS kind,
                   CAST(strlen(text) AS INTEGER) AS n_bytes,
                   md5(text) AS content_md5
            FROM documents
        """,
        "multimodal_frame_sample": """
            SELECT doc_id AS media_id,
                   CAST((n_chars * 10) // 1000 + 1 AS BIGINT) AS n_frames,
                   CAST(((n_chars * 10) // 1000) * 1000 AS BIGINT)
                     AS last_frame_ts_ms
            FROM documents WHERE doc_id % 3 = 2
        """,
        "zonal_spatial_join": """
            WITH cells AS (
              SELECT i % 200 AS cell_x, i // 200 AS cell_y
              FROM range(40000) t(i)),
            pts AS (
              SELECT cell_x * 0.05 + 0.025 AS lon,
                     cell_y * 0.05 + 0.025 AS lat,
                     CAST((cell_x * 7 + cell_y * 13) % 100 AS DOUBLE) AS value
              FROM cells)
            SELECT CAST(CAST(FLOOR(lat) AS INT) * 10
                        + CAST(FLOOR(lon) AS INT) AS INT) AS asdf_id,
                   AVG(value) AS exfield_0
            FROM pts GROUP BY 1
        """,
        "zonal_salted_mean": _zonal_sql("AVG(value) AS exfield_0"),
        "zonal_weighted_spatial": """
            WITH cells AS (
              SELECT (i % 200) * 0.05 AS minx,
                     (i // 200) * 0.05 AS miny,
                     CAST(((i % 200) * 7 + (i // 200) * 13) % 100 AS DOUBLE)
                       AS value
              FROM range(40000) t(i)),
            bounds AS (
              SELECT * FROM (VALUES
                (0, 0.52, 0.52, 4.48, 4.48),
                (1, 4.52, 0.52, 9.48, 4.48),
                (2, 0.52, 4.52, 4.48, 9.48),
                (3, 4.52, 4.52, 9.48, 9.48))
                b(asdf_id, bminx, bminy, bmaxx, bmaxy)),
            cov AS (
              SELECT asdf_id, value,
                     GREATEST(LEAST(minx + 0.05, bmaxx) - GREATEST(minx, bminx), 0.0)
                     * GREATEST(LEAST(miny + 0.05, bmaxy) - GREATEST(miny, bminy), 0.0)
                     / (0.05 * 0.05) AS coverage
              FROM cells, bounds),
            covf AS (SELECT * FROM cov WHERE coverage > 0)
            SELECT CAST(asdf_id AS INT) AS asdf_id,
                   FLOOR(SUM(value * coverage) / SUM(coverage) * 1e6 + 0.5)
                     / 1e6 AS wmean,
                   FLOOR(SUM(value * coverage) * 1e2 + 0.5) / 1e2 AS wsum,
                   FLOOR(SUM(coverage) * 1e4 + 0.5) / 1e4 AS wcnt
            FROM covf GROUP BY asdf_id
        """,
        "zonal_weighted_polygon": """
            WITH cells AS (
              SELECT (i % 40) * 0.25 AS minx, (i // 40) * 0.25 AS miny,
                     CAST(((i % 40) * 7 + (i // 40) * 13) % 100 AS DOUBLE)
                       AS value
              FROM range(1600) t(i)),
            -- each polygon decomposed into disjoint axis-aligned rects
            rects AS (SELECT * FROM (VALUES
                (0, 1.125, 1.125, 6.625, 3.625),
                (0, 1.125, 3.625, 3.875, 7.875),
                (1, 4.25, 1.875, 5.75, 8.125),
                (1, 2.125, 4.375, 4.25, 5.625),
                (1, 5.75, 4.375, 7.875, 5.625),
                (2, 0.375, 8.125, 2.875, 9.625))
                r(asdf_id, rminx, rminy, rmaxx, rmaxy)),
            cov AS (
              SELECT asdf_id, minx, miny, ANY_VALUE(value) AS value,
                     SUM(GREATEST(LEAST(minx + 0.25, rmaxx)
                                  - GREATEST(minx, rminx), 0.0)
                       * GREATEST(LEAST(miny + 0.25, rmaxy)
                                  - GREATEST(miny, rminy), 0.0))
                       / 0.0625 AS coverage
              FROM cells, rects GROUP BY asdf_id, minx, miny),
            covf AS (SELECT * FROM cov WHERE coverage > 0)
            SELECT CAST(asdf_id AS INT) AS asdf_id,
                   FLOOR(SUM(value * coverage) / SUM(coverage) * 1e6 + 0.5)
                     / 1e6 AS wmean,
                   FLOOR(SUM(value * coverage) * 1e2 + 0.5) / 1e2 AS wsum,
                   FLOOR(SUM(coverage) * 1e4 + 0.5) / 1e4 AS wcnt
            FROM covf GROUP BY asdf_id
        """,
        "request_lifecycle": CELLS_SQL + """
            SELECT asdf_id,
                   AVG(value + 3) AS "synth_cov.1998.mean",
                   SUM(value + 3) AS "synth_cov.1998.sum",
                   AVG(value + 6) AS "synth_cov.2008.mean",
                   SUM(value + 6) AS "synth_cov.2008.sum"
            FROM cells GROUP BY asdf_id
        """,
        "spatial_nearest": """
            WITH pts AS (
              SELECT i AS point_id, (i % 64) * 0.15625 AS lon,
                     (i // 64) * 0.15625 AS lat
              FROM range(4000) t(i)),
            centers AS (
              SELECT i AS center_id, (i % 4) * 2.5 + 1.25 AS cx,
                     (i // 4) * 2.5 + 1.25 AS cy
              FROM range(16) c(i)),
            d AS (
              SELECT point_id,
                     center_id,
                     (lon - cx) * (lon - cx) + (lat - cy) * (lat - cy)
                       AS d2,
                     ROW_NUMBER() OVER (
                       PARTITION BY point_id
                       ORDER BY (lon - cx) * (lon - cx)
                              + (lat - cy) * (lat - cy) ASC,
                              center_id ASC) AS rn
              FROM pts, centers)
            SELECT point_id, center_id AS nearest_id,
                   FLOOR(d2 * 1e6 + 0.5) / 1e6 AS dist2
            FROM d WHERE rn = 1
        """,
        "polygon_metrics": _polygon_metrics_sql(),
        "bloom_semi_filter": """
            WITH ck AS (SELECT DISTINCT CAST(c_custkey AS BIGINT) AS v
                        FROM customer WHERE c_acctbal > 9000),
            pos AS (
              SELECT DISTINCT
                     xor((v + (i * 1000003 + 1)) * 2654435761,
                         ((v + (i * 1000003 + 1)) * 2654435761) >> 13)
                       % 4095 AS p
              FROM ck, range(0, 3) t(i)),
            op AS (
              SELECT o_orderkey, o_orderstatus,
                     xor((CAST(o_custkey AS BIGINT) + (i * 1000003 + 1))
                           * 2654435761,
                         ((CAST(o_custkey AS BIGINT) + (i * 1000003 + 1))
                           * 2654435761) >> 13) % 4095 AS p
              FROM orders, range(0, 3) t(i)),
            passed AS (
              SELECT o_orderkey, ANY_VALUE(o_orderstatus) AS o_orderstatus
              FROM op LEFT JOIN pos USING (p)
              GROUP BY o_orderkey HAVING COUNT(pos.p) = 3),
            nb AS (SELECT o_orderstatus, COUNT(*) AS n_bloom_pass
                   FROM passed GROUP BY 1),
            ne AS (SELECT o_orderstatus, COUNT(*) AS n_exact
                   FROM orders WHERE o_custkey IN (SELECT v FROM ck)
                   GROUP BY 1)
            SELECT o_orderstatus,
                   COALESCE(n_bloom_pass, 0) AS n_bloom_pass,
                   COALESCE(n_exact, 0) AS n_exact
            FROM nb FULL OUTER JOIN ne USING (o_orderstatus)
        """,
        "events_quality_window": """
            WITH w AS (
              SELECT date_trunc('hour', ts) AS ws, user_id, value,
                     event_type
              FROM events),
            a AS (
              SELECT ws, COUNT(*) AS n,
                     COUNT(CASE WHEN user_id IS NULL THEN 1 END) AS v0,
                     COUNT(CASE WHEN value IS NOT NULL
                                 AND value NOT BETWEEN 0 AND 400
                                THEN 1 END) AS v1,
                     COUNT(CASE WHEN event_type IS NOT NULL
                                 AND event_type NOT IN
                                     ('view', 'click', 'purchase')
                                THEN 1 END) AS v2
              FROM w GROUP BY ws),
            l AS (
              SELECT ws, 'user_id' AS col, 'not_null' AS rule,
                     n, v0 AS n_violations FROM a
              UNION ALL
              SELECT ws, 'value', 'between', n, v1 FROM a
              UNION ALL
              SELECT ws, 'event_type', 'in_set', n, v2 FROM a)
            SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
                   strftime(ws + INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S')
                     AS window_end,
                   col, rule, n AS n_rows, n_violations
            FROM l
        """,
        "cms_heavy_hitters": """
            WITH vals AS (SELECT CAST(l_suppkey AS BIGINT) AS v
                          FROM lineitem),
            sketch AS (
              SELECT hrow, bucket, COUNT(*) AS cnt FROM (
                SELECT i AS hrow,
                       xor((v + (i * 1000003 + 1)) * 2654435761,
                           ((v + (i * 1000003 + 1)) * 2654435761) >> 13)
                         % 256 AS bucket
                FROM vals, range(0, 4) t(i))
              GROUP BY hrow, bucket),
            cand AS (SELECT DISTINCT v AS value FROM vals),
            probes AS (
              SELECT value, i AS hrow,
                     xor((value + (i * 1000003 + 1)) * 2654435761,
                         ((value + (i * 1000003 + 1)) * 2654435761) >> 13)
                       % 256 AS bucket
              FROM cand, range(0, 4) t(i)),
            est AS (
              SELECT value, MIN(COALESCE(s.cnt, 0)) AS est_count
              FROM probes p LEFT JOIN sketch s USING (hrow, bucket)
              GROUP BY value),
            r AS (SELECT value, est_count,
                         ROW_NUMBER() OVER (ORDER BY est_count DESC,
                                            value ASC) AS rank
                  FROM est)
            SELECT CAST(rank AS INT) AS rank, value, est_count
            FROM r WHERE rank <= 20
        """,
        "expectations_report": """
            WITH a AS (
              SELECT COUNT(*) AS n,
                     COUNT(CASE WHEN o_custkey IS NULL THEN 1 END) AS v0,
                     COUNT(o_orderkey) AS c1,
                     COUNT(DISTINCT o_orderkey) AS d1,
                     COUNT(CASE WHEN o_totalprice IS NOT NULL
                                 AND o_totalprice NOT BETWEEN 0 AND 200000
                                THEN 1 END) AS v2,
                     COUNT(CASE WHEN o_orderstatus IS NOT NULL
                                 AND o_orderstatus NOT IN ('O', 'F')
                                THEN 1 END) AS v3,
                     COUNT(CASE WHEN o_orderpriority IS NOT NULL
                                 AND NOT regexp_matches(o_orderpriority,
                                                        '^[1-5]-[A-Z]+$')
                                THEN 1 END) AS v4,
                     COUNT(CASE WHEN o_orderdate IS NULL THEN 1 END) AS v5
              FROM orders),
            r AS (
              SELECT * FROM (
                SELECT 'o_custkey' AS col, 'not_null' AS rule,
                       n AS n_rows, v0 AS n_violations, 0.0 AS thr FROM a
                UNION ALL
                SELECT 'o_orderkey', 'unique', n,
                       GREATEST(c1 - d1, 0), 0.0 FROM a
                UNION ALL
                SELECT 'o_totalprice', 'between', n, v2, 0.0 FROM a
                UNION ALL
                SELECT 'o_orderstatus', 'in_set', n, v3, 0.0 FROM a
                UNION ALL
                SELECT 'o_orderpriority', 'matches', n, v4, 0.0 FROM a
                UNION ALL
                SELECT 'o_orderdate', 'max_null_frac', n, v5, 0.05 FROM a))
            SELECT col, rule, n_rows, n_violations,
                   FLOOR(CAST(n_violations AS DOUBLE) / n_rows * 1e8 + 0.5)
                     / 1e8 AS violation_frac,
                   CAST(n_violations AS DOUBLE) / n_rows <= thr AS passed
            FROM r
        """,
        "raster_trend": """
            WITH grid AS (
              SELECT (i % 12) AS t,
                     (i // 12) // 64 AS cell_y,
                     (i // 12) % 64 AS cell_x
              FROM range(49152) g(i)),
            cells AS (
              SELECT t, cell_y, cell_x,
                     CASE WHEN (cell_x + cell_y + t) % 7 <> 0
                          THEN CAST(cell_x * 7 + cell_y * 13
                                    + ((cell_x + cell_y) % 5) * t
                                    AS DOUBLE)
                     END AS value
              FROM grid),
            m AS (
              SELECT cell_y, cell_x,
                     COUNT(value) AS n,
                     SUM(CASE WHEN value IS NOT NULL
                              THEN CAST(t AS DOUBLE) END) AS st,
                     SUM(value) AS sv,
                     SUM(CAST(t AS DOUBLE) * value) AS stv,
                     SUM(CASE WHEN value IS NOT NULL
                              THEN CAST(t AS DOUBLE) * CAST(t AS DOUBLE)
                         END) AS stt
              FROM cells GROUP BY cell_y, cell_x)
            SELECT cell_y, cell_x, n,
                   FLOOR((CAST(n AS DOUBLE) * stv - st * sv)
                         / (CAST(n AS DOUBLE) * stt - st * st)
                         * 1e6 + 0.5) / 1e6 AS slope,
                   FLOOR((sv - (CAST(n AS DOUBLE) * stv - st * sv)
                               / (CAST(n AS DOUBLE) * stt - st * st)
                               * st) / CAST(n AS DOUBLE)
                         * 1e6 + 0.5) / 1e6 AS intercept
            FROM m
        """,
        "raster_downsample": """
            WITH cells AS (
              SELECT (i // 256) AS cell_y, (i % 256) AS cell_x,
                     CAST((i % 256) * 7 + (i // 256) * 13 AS DOUBLE)
                       AS value
              FROM range(65536) t(i))
            SELECT cell_y // 8 AS block_y, cell_x // 8 AS block_x,
                   COUNT(value) AS n_cells,
                   FLOOR(AVG(value) * 1e6 + 0.5) / 1e6 AS mean_value,
                   FLOOR(MIN(value) * 1e6 + 0.5) / 1e6 AS min_value,
                   FLOOR(MAX(value) * 1e6 + 0.5) / 1e6 AS max_value
            FROM cells GROUP BY 1, 2
        """,
        "raster_file_zonal": """
            WITH g AS (SELECT (i % 200) AS x, (i // 200) AS y
                       FROM range(24000) t(i)),
            v AS (SELECT y // 30 AS asdf_id,
                         CASE WHEN (x + y) % 11 = 0 THEN NULL
                              ELSE CAST((x * 7 + y * 13) % 100 AS DOUBLE)
                         END AS value
                  FROM g)
            SELECT CAST(asdf_id AS BIGINT) AS asdf_id,
                   COUNT(value) AS n_cells,
                   SUM(value) AS sum_value
            FROM v GROUP BY asdf_id
        """,
        "zonal_weighted_triangle": """
            WITH cells AS (
              SELECT (i % 40) * 0.25 AS minx, (i // 40) * 0.25 AS miny,
                     CAST(((i % 40) * 7 + (i // 40) * 13) % 100 AS DOUBLE)
                       AS value
              FROM range(1600) t(i)),
            -- closed-form integral of the diagonal half-plane over a
            -- cell: area(x+y<=C within [a,a+s]x[b,b+s]) = G(C-a-b)
            -- - G(C-a-b-s), G(t) = clamp-ramp integral
            tri AS (
              SELECT asdf_id, minx, miny, value,
                     CASE WHEN t1 <= 0 THEN 0.0
                          WHEN t1 <= 0.25 THEN t1*t1/2
                          ELSE 0.03125 + 0.25*(t1 - 0.25) END
                   - CASE WHEN t0 <= 0 THEN 0.0
                          WHEN t0 <= 0.25 THEN t0*t0/2
                          ELSE 0.03125 + 0.25*(t0 - 0.25) END AS below
              FROM (
                SELECT t.asdf_id, c.minx, c.miny, c.value,
                       t.c_sum - c.minx - c.miny AS t1,
                       t.c_sum - c.minx - c.miny - 0.25 AS t0
                FROM cells c,
                     (VALUES (0, 9.0), (1, 11.0)) t(asdf_id, c_sum)
                WHERE c.minx >= CASE WHEN t.asdf_id = 0 THEN 0.5 ELSE 1.5 END
                  AND c.minx < CASE WHEN t.asdf_id = 0 THEN 8.5 ELSE 9.5 END
                  AND c.miny >= CASE WHEN t.asdf_id = 0 THEN 0.5 ELSE 1.5 END
                  AND c.miny < CASE WHEN t.asdf_id = 0 THEN 8.5 ELSE 9.5 END)),
            cov AS (
              SELECT asdf_id, value,
                     CASE WHEN asdf_id = 0 THEN below
                          ELSE 0.0625 - below END / 0.0625 AS coverage
              FROM tri),
            covf AS (SELECT * FROM cov WHERE coverage > 0)
            SELECT CAST(asdf_id AS INT) AS asdf_id,
                   FLOOR(SUM(value * coverage) / SUM(coverage) * 1e6 + 0.5)
                     / 1e6 AS wmean,
                   FLOOR(SUM(value * coverage) * 1e2 + 0.5) / 1e2 AS wsum,
                   FLOOR(SUM(coverage) * 1e4 + 0.5) / 1e4 AS wcnt
            FROM covf GROUP BY asdf_id
        """,
        "range_join": """
            SELECT o_orderkey, COUNT(*) AS n_shipped
            FROM (SELECT o_orderkey, o_orderdate,
                         o_orderdate + INTERVAL 7 DAY AS r_end
                  FROM orders WHERE o_orderkey < 2000) r
            JOIN lineitem
              ON l_shipdate >= o_orderdate AND l_shipdate < r_end
            GROUP BY o_orderkey
        """,
        "dedup_clusters": _clusters_sql(0.12),
        "window_lag_lead": """
            SELECT o_custkey, o_orderkey,
                   LAG(o_totalprice) OVER w AS prev_price,
                   LEAD(o_totalprice) OVER w AS next_price,
                   CAST(NTILE(4) OVER w AS INT) AS quartile
            FROM orders WHERE o_custkey < 300
            WINDOW w AS (PARTITION BY o_custkey
                         ORDER BY o_orderdate, o_orderkey)
        """,
        "cube_agg": """
            SELECT l_returnflag, l_linestatus,
                   COUNT(*) AS n_rows,
                   SUM(l_quantity) AS sum_qty
            FROM lineitem
            GROUP BY CUBE (l_returnflag, l_linestatus)
        """,
        "asof_join": """
            WITH clicks AS (SELECT event_id, user_id, ts FROM events
                            WHERE event_type = 'click'),
            views AS (SELECT user_id, ts, MAX(value) AS value FROM events
                      WHERE event_type = 'view' GROUP BY user_id, ts)
            SELECT c.event_id, c.user_id,
                   strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
                   strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS view_ts,
                   v.value AS view_value
            FROM clicks c
            ASOF LEFT JOIN views v
              ON c.user_id = v.user_id AND c.ts >= v.ts
        """,
        "rollup_agg": """
            SELECT l_returnflag, l_linestatus,
                   COUNT(*) AS n_rows,
                   SUM(l_quantity) AS sum_qty
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "dedup_embedding_cosine": f"""
            WITH a AS (SELECT vec_id AS id_a, embedding AS va
                       FROM embeddings WHERE vec_id < 100),
            b AS (SELECT vec_id AS id_b, embedding AS vb FROM embeddings),
            p AS (SELECT id_a, id_b,
                         {_COS64.format(a='va', b='vb')}
                         / (sqrt({_COS64.format(a='va', b='va')})
                            * sqrt({_COS64.format(a='vb', b='vb')})) AS cos
                  FROM b, a WHERE id_a < id_b)
            SELECT id_a, id_b, FLOOR(cos * 1e6 + 0.5) / 1e6 AS cos
            FROM p WHERE cos >= 0.35
        """,
        "text_tfidf": """
            WITH terms AS (
              SELECT doc_id, unnest(string_split(text, ' ')) AS term
              FROM documents),
            terms2 AS (SELECT doc_id, term FROM terms WHERE length(term) > 0),
            tf AS (SELECT doc_id, term, COUNT(*) AS tf
                   FROM terms2 GROUP BY doc_id, term),
            docfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df_
                        FROM terms2 GROUP BY term),
            n AS (SELECT COUNT(*) AS n_docs FROM documents),
            scored AS (
              SELECT doc_id, term,
                     tf * ln(CAST(n_docs + 1 AS DOUBLE) / (df_ + 1)) AS score
              FROM tf JOIN docfreq USING (term), n),
            ranked AS (
              SELECT doc_id, term, score,
                     ROW_NUMBER() OVER (PARTITION BY doc_id
                                        ORDER BY score DESC, term ASC) AS rnk
              FROM scored)
            SELECT doc_id, CAST(rnk AS INT) AS rank, term,
                   FLOOR(score * 1e6 + 0.5) / 1e6 AS score
            FROM ranked WHERE rnk <= 3
        """,
        "hypertable_rollup": """
            SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                   event_type,
                   COUNT(value) AS n_events,
                   FLOOR(SUM(value) * 1e4 + 0.5) / 1e4 AS sum_value,
                   MIN(value) AS min_v,
                   MAX(value) AS max_v,
                   FLOOR((FLOOR(SUM(value) * 1e4 + 0.5) / 1e4)
                         / COUNT(value) * 1e6 + 0.5) / 1e6 AS mean_value
            FROM events GROUP BY 1, 2
        """,
        "zonal_percentiles": _zonal_sql(
            "QUANTILE_CONT(value, 0.25) AS p25, "
            "QUANTILE_CONT(value, 0.5) AS p50, "
            "QUANTILE_CONT(value, 0.75) AS p75"
        ),
        "queue_timeline": """
            SELECT o_orderkey,
                   COALESCE(
                     strftime(CASE WHEN o_orderkey % 7 = 0 THEN NULL
                                   ELSE o_orderdate END,
                              '%Y-%m-%d %H:%M:%S'),
                     '---') AS submit_stamp
            FROM orders WHERE o_orderkey < 1000
        """,
        "doc_chunks": """
            WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l
                          FROM documents),
            meta AS (SELECT doc_id, l, len(l) AS n,
                            1 + (greatest(len(l) - 32, 0) + 23) // 24
                              AS n_chunks
                     FROM toks),
            ex AS (SELECT doc_id, l, n,
                          unnest(range(0, n_chunks)) AS chunk_id
                   FROM meta)
            SELECT doc_id, chunk_id,
                   least(32, n - chunk_id * 24) AS chunk_tokens,
                   array_to_string(
                     list_slice(l, chunk_id * 24 + 1, chunk_id * 24 + 32),
                     ' ') AS chunk_text
            FROM ex
        """,
        "pack_sequences": """
            WITH t AS (SELECT lang, doc_id,
                              len(string_split(text, ' ')) AS n_tokens
                       FROM documents),
            c AS (SELECT lang, doc_id, n_tokens,
                         COALESCE(SUM(n_tokens) OVER (
                           PARTITION BY lang ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0) AS cum_before
                  FROM t)
            SELECT lang, doc_id, n_tokens,
                   CAST(cum_before AS BIGINT) AS cum_before,
                   CAST(cum_before // 256 AS BIGINT) AS bin_start,
                   CAST((cum_before + n_tokens - 1) // 256 AS BIGINT)
                     AS bin_end,
                   CAST(cum_before % 256 AS BIGINT) AS bin_offset
            FROM c
        """,
        "sample_hash": """
            SELECT doc_id, lang, source FROM documents
            WHERE CAST(concat('0x',
                    substr(md5(concat('s0:', CAST(doc_id AS VARCHAR))),
                           1, 15)) AS BIGINT) % 1000000 < 100000
        """,
        "sample_stratified": """
            SELECT doc_id, lang, source FROM documents
            WHERE CAST(concat('0x',
                    substr(md5(concat('s0:', CAST(doc_id AS VARCHAR))),
                           1, 15)) AS BIGINT) % 1000000
                  < CASE WHEN lang = 'en' THEN 50000
                         WHEN lang = 'fr' THEN 1000000
                         WHEN lang = 'de' THEN 500000
                         ELSE 200000 END
        """,
        "term_doc_freq": """
            SELECT term, COUNT(*) AS doc_freq
            FROM (SELECT DISTINCT doc_id,
                         unnest(string_split(text, ' ')) AS term
                  FROM documents)
            WHERE length(term) > 0
            GROUP BY term HAVING COUNT(*) >= 50
        """,
        "dedup_report": """
            WITH g AS (
              SELECT source, md5(substr(text, 1, 24)) AS content_key,
                     COUNT(*) AS n
              FROM documents GROUP BY 1, 2)
            SELECT source, CAST(SUM(n) AS BIGINT) AS n_docs,
                   COUNT(*) AS n_unique,
                   CAST(FLOOR((SUM(n) - COUNT(*)) * 10000.0 / SUM(n))
                        AS BIGINT) AS dup_bps
            FROM g GROUP BY source
        """,
        "argmax_order": """
            WITH m AS (SELECT o_custkey, MAX(o_totalprice) AS best_price
                       FROM orders GROUP BY 1)
            SELECT m.o_custkey, m.best_price,
                   MIN(o.o_orderkey) AS best_order
            FROM m JOIN orders o
              ON o.o_custkey = m.o_custkey
             AND o.o_totalprice = m.best_price
            GROUP BY 1, 2
        """,
        "pii_redact": """
            SELECT event_id,
                   regexp_replace(props, '[0-9]+', '<NUM>', 'g')
                     AS props_clean
            FROM events WHERE event_id < 2000
        """,
        "time_fill": """
            WITH b AS (
              SELECT event_type, date_trunc('hour', ts) AS bucket,
                     COUNT(*) AS n_events,
                     FLOOR(SUM(value) * 1e4 + 0.5) / 1e4 AS sum_value
              FROM events GROUP BY 1, 2),
            bounds AS (SELECT event_type, MIN(bucket) AS lo,
                              MAX(bucket) AS hi
                       FROM b GROUP BY 1),
            grid AS (SELECT event_type,
                            unnest(generate_series(lo, hi,
                                                   INTERVAL 1 HOUR))
                              AS bucket
                     FROM bounds),
            j AS (SELECT g.event_type, g.bucket, b.n_events, b.sum_value
                  FROM grid g
                  LEFT JOIN b ON b.event_type = g.event_type
                             AND b.bucket = g.bucket)
            SELECT event_type,
                   strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
                   COALESCE(n_events, 0) AS n_events,
                   CAST(n_events IS NULL AS INT) AS is_gap,
                   last_value(sum_value IGNORE NULLS) OVER (
                     PARTITION BY event_type ORDER BY bucket
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS filled_value
            FROM j
        """,
        "unpivot_metrics": """
            SELECT l_orderkey, l_linenumber,
                   'l_quantity' AS metric, l_quantity AS value
            FROM lineitem WHERE l_orderkey < 200
            UNION ALL
            SELECT l_orderkey, l_linenumber,
                   'l_extendedprice', l_extendedprice
            FROM lineitem WHERE l_orderkey < 200
            UNION ALL
            SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
            FROM lineitem WHERE l_orderkey < 200
            UNION ALL
            SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
            FROM lineitem WHERE l_orderkey < 200
        """,
        "profile_table": """
            SELECT 'c_custkey' AS "column", COUNT(*) AS n_rows,
                   CAST(SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_nulls,
                   COUNT(DISTINCT c_custkey) AS n_distinct,
                   CAST(MIN(c_custkey) AS VARCHAR) AS min_str,
                   CAST(MAX(c_custkey) AS VARCHAR) AS max_str
            FROM customer
            UNION ALL
            SELECT 'c_name', COUNT(*),
                   CAST(SUM(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT),
                   COUNT(DISTINCT c_name),
                   MIN(c_name), MAX(c_name)
            FROM customer
            UNION ALL
            SELECT 'c_nationkey', COUNT(*),
                   CAST(SUM(CASE WHEN c_nationkey IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT),
                   COUNT(DISTINCT c_nationkey),
                   CAST(MIN(c_nationkey) AS VARCHAR),
                   CAST(MAX(c_nationkey) AS VARCHAR)
            FROM customer
            UNION ALL
            SELECT 'c_mktsegment', COUNT(*),
                   CAST(SUM(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT),
                   COUNT(DISTINCT c_mktsegment),
                   MIN(c_mktsegment), MAX(c_mktsegment)
            FROM customer
        """,
        "events_json_extract": """
            SELECT event_type,
                   COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT))
                     AS n_with_k,
                   CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                        AS BIGINT) AS sum_k,
                   MAX(CAST(json_extract_string(props, '$.k') AS BIGINT))
                     AS max_k
            FROM events GROUP BY event_type
        """,
        "text_edit_distance": """
            SELECT d.doc_id,
                   levenshtein(substr(d.text, 1, 30), substr(n.text, 1, 30))
                     AS edit_dist,
                   regexp_extract(d.text, '([a-z]+) ([a-z]+)', 2)
                     AS second_word
            FROM documents d JOIN documents n ON n.doc_id = d.doc_id + 1
        """,
        "pagerank": _pagerank_oracle(),
        "bom_explode": _bom_oracle(),
        "k_core": _k_core_oracle(),
        "mmr_select": _mmr_oracle(),
        "retrieval_pipeline": _retrieval_pipeline_oracle(),
        "tpch_q1": """
            WITH base AS (
              SELECT l_returnflag, l_linestatus,
                     CAST(l_quantity AS BIGINT) AS qty,
                     CAST(FLOOR(l_extendedprice*100 + 0.5) AS BIGINT) AS pc,
                     CAST(FLOOR(l_discount*100 + 0.5) AS BIGINT) AS dp,
                     CAST(FLOOR(l_tax*100 + 0.5) AS BIGINT) AS tp
              FROM lineitem
              WHERE l_shipdate <= TIMESTAMP '1998-09-02')
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(qty) AS BIGINT) AS sum_qty,
                   CAST(SUM(pc) AS BIGINT) AS sum_base_price_c,
                   CAST(SUM(pc*(100-dp)) AS BIGINT) AS sum_disc_price_c4,
                   CAST(SUM(pc*(100-dp)*(100+tp)) AS BIGINT) AS sum_charge_c6,
                   CAST(SUM(qty) AS DOUBLE) / COUNT(*) AS avg_qty,
                   CAST(SUM(pc) AS DOUBLE) / COUNT(*) AS avg_price_c,
                   CAST(SUM(dp) AS DOUBLE) / COUNT(*) AS avg_disc_pct,
                   COUNT(*) AS count_order
            FROM base GROUP BY l_returnflag, l_linestatus
        """,
        "tpch_q3": """
            SELECT l_orderkey,
                   CAST(SUM(CAST(FLOOR(l_extendedprice*100 + 0.5) AS BIGINT)
                        * (100 - CAST(FLOOR(l_discount*100 + 0.5) AS BIGINT)))
                        AS BIGINT) AS revenue_c4,
                   strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
                   o_orderpriority
            FROM customer
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1995-03-15'
              AND l_shipdate > TIMESTAMP '1995-03-15'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue_c4 DESC, o_orderdate, l_orderkey
            LIMIT 10
        """,
        "tpch_q5": """
            SELECT n_name,
                   CAST(SUM(CAST(FLOOR(l_extendedprice*100 + 0.5) AS BIGINT)
                        * (100 - CAST(FLOOR(l_discount*100 + 0.5) AS BIGINT)))
                        AS BIGINT) AS revenue_c4
            FROM customer
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON o_orderkey = l_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
                         AND c_nationkey = s_nationkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1993-01-01'
              AND o_orderdate < TIMESTAMP '1997-01-01'
            GROUP BY n_name
            ORDER BY revenue_c4 DESC, n_name
        """,
        "funnel_ttc": """
            WITH per_user AS (
              SELECT user_id,
                     MIN(CASE WHEN event_type = 'signup'
                         THEN CAST(ts AS DATE) - DATE '1970-01-01'
                         END) AS s_day
              FROM events GROUP BY 1),
            conv AS (
              SELECT e.user_id, p.s_day,
                     MIN(CAST(e.ts AS DATE) - DATE '1970-01-01')
                       AS c_day
              FROM events e JOIN per_user p
                ON e.user_id = p.user_id
              WHERE p.s_day IS NOT NULL
                AND e.event_type = 'purchase'
                AND CAST(e.ts AS DATE) - DATE '1970-01-01' >= p.s_day
              GROUP BY 1, 2)
            SELECT c_day - s_day AS days,
                   CAST(COUNT(*) AS BIGINT) AS n_users
            FROM conv GROUP BY 1 ORDER BY days
        """,
        "lorenz_deciles": """
            WITH spend AS (
              SELECT o_custkey,
                     CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5)
                          AS BIGINT)) AS BIGINT) AS cents
              FROM orders GROUP BY 1),
            ranked AS (
              SELECT cents,
                     ROW_NUMBER() OVER (
                       ORDER BY cents * 10000000 + o_custkey) - 1
                       AS rid,
                     COUNT(*) OVER () AS n
              FROM spend),
            dec AS (SELECT rid * 10 // n AS decile, cents
                    FROM ranked),
            tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS total_cents
                    FROM spend)
            SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_cust,
                   CAST(SUM(cents) AS BIGINT) AS cents,
                   CAST(SUM(cents) AS BIGINT) * 1000000
                     // total_cents AS share_ppm
            FROM dec CROSS JOIN tot
            GROUP BY decile, total_cents ORDER BY decile
        """,
        "embedding_drift": _EMB_DRIFT_ORACLE,
        "rbo_compare": _rbo_oracle(),
        "corpus_pipeline_v3": _URL_CANON_CTE
        + """
            , canon_keep AS (
              SELECT canonical, MIN(doc_id) AS doc_id,
                     MIN(domain) AS domain
              FROM canon GROUP BY canonical),
            ranked AS (
              SELECT doc_id,
                     ROW_NUMBER() OVER (PARTITION BY domain
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                       AS rk
              FROM canon_keep),
            survivors AS (SELECT doc_id FROM ranked WHERE rk <= 5),
            kept AS (
              SELECT d.doc_id, d.source, d.text
              FROM documents d JOIN survivors s
                ON d.doc_id = s.doc_id),
            toks AS (
              SELECT doc_id, source, string_split(text, ' ') AS l
              FROM kept),
            words AS (
              SELECT doc_id, source,
                     unnest(range(1, len(l) + 1)) AS pos,
                     unnest(l) AS w
              FROM toks),
            flagged AS (
              SELECT doc_id, source, pos, w,
                     CASE WHEN pos > 1 AND
                          CAST(concat('0x', substr(md5(w), 1, 15))
                               AS BIGINT) % 8 = 0
                     THEN 1 ELSE 0 END AS b
              FROM words),
            chunked AS (
              SELECT doc_id, source, pos, w,
                     SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
                       ROW) AS chunk_id
              FROM flagged),
            chunks AS (
              SELECT doc_id, source,
                     md5(string_agg(w, ' ' ORDER BY pos))
                       AS chunk_hash
              FROM chunked GROUP BY doc_id, source, chunk_id)
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_chunks,
                   CAST(COUNT(DISTINCT chunk_hash) AS BIGINT)
                     AS n_distinct,
                   (CAST(COUNT(*) AS BIGINT)
                    - CAST(COUNT(DISTINCT chunk_hash) AS BIGINT))
                   * 1000000 // CAST(COUNT(*) AS BIGINT) AS dup_ppm
            FROM chunks GROUP BY source ORDER BY source
        """,
        "ndcg_eval": _ndcg_oracle(),
        "logrank_test": _LOGRANK_ORACLE,
        "knn_classify": """
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cv, label
          FROM embeddings WHERE vec_id >= 5),
    s AS (SELECT query_id, neighbor_id, label,
                 list_sum(list_transform(range(1, 65),
                   i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(range(1, 65),
                      i -> CAST(qv[i] AS DOUBLE)
                           * CAST(qv[i] AS DOUBLE))))
                    * sqrt(list_sum(list_transform(range(1, 65),
                      i -> CAST(cv[i] AS DOUBLE)
                           * CAST(cv[i] AS DOUBLE))))) AS cos
          FROM c, q),
    r AS (SELECT query_id, label,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, neighbor_id ASC) AS rnk
          FROM s),
    v AS (SELECT query_id, label, CAST(COUNT(*) AS BIGINT) AS n
          FROM r WHERE rnk <= 10 GROUP BY 1, 2)
    SELECT query_id, label AS pred_label, n AS n_votes
    FROM v
    QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY n DESC, label ASC) = 1
    ORDER BY query_id
        """,
        "logreg_calibration": _logreg_cal_oracle(),
        "logreg_fit": _logreg_oracle(),
        "rolling_trend": """
            WITH daily AS (
              SELECT event_type,
                     CAST(ts AS DATE) - DATE '1970-01-01' AS day,
                     CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
                          AS BIGINT) AS cents
              FROM events GROUP BY 1, 2),
            w AS (
              SELECT event_type, day, cents,
                     CAST(COUNT(*) OVER fr AS BIGINT) AS n_pts,
                     CAST(SUM(day) OVER fr AS BIGINT) AS sx,
                     CAST(SUM(cents) OVER fr AS BIGINT) AS sy,
                     CAST(SUM(day * cents) OVER fr AS BIGINT) AS sxy,
                     CAST(SUM(day * day) OVER fr AS BIGINT) AS sxx
              FROM daily
              WINDOW fr AS (PARTITION BY event_type ORDER BY day
                            ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
            SELECT event_type, day, cents, n_pts,
                   CASE WHEN n_pts >= 7
                         AND n_pts * sxx - sx * sx > 0
                   THEN CAST(FLOOR(1000000.0
                     * CAST(n_pts * sxy - sx * sy AS DOUBLE)
                     / CAST(n_pts * sxx - sx * sx AS DOUBLE) + 0.5)
                     AS BIGINT)
                   END AS slope_ppm
            FROM w ORDER BY event_type, day
        """,
        "pit_enrich": """
            WITH initial AS (
              SELECT c_custkey, c_mktsegment AS segment,
                     CAST(NULL AS TIMESTAMP) AS valid_from,
                     CAST(NULL AS BIGINT) AS seq
              FROM customer),
            upd AS (
              SELECT o_custkey AS c_custkey,
                     o_orderpriority AS segment,
                     o_orderdate AS valid_from, o_orderkey AS seq
              FROM orders WHERE o_orderkey < 500),
            v AS (SELECT * FROM initial UNION ALL SELECT * FROM upd),
            x AS (
              SELECT c_custkey, segment, valid_from,
                     LEAD(valid_from) OVER (
                       PARTITION BY c_custkey
                       ORDER BY valid_from ASC NULLS FIRST,
                                seq ASC NULLS FIRST) AS valid_to
              FROM v),
            facts AS (
              SELECT o_orderkey, o_custkey, o_orderdate
              FROM orders
              WHERE o_orderkey >= 500 AND o_orderkey < 2000)
            SELECT f.o_orderkey, f.o_custkey,
                   strftime(f.o_orderdate, '%Y-%m-%d') AS order_date,
                   x.segment
            FROM facts f JOIN x ON x.c_custkey = f.o_custkey
             AND (x.valid_from IS NULL
                  OR x.valid_from <= f.o_orderdate)
             AND (x.valid_to IS NULL OR f.o_orderdate < x.valid_to)
            ORDER BY f.o_orderkey
        """,
        "distinct_cube": """
            SELECT GROUPING(o_orderstatus, o_orderpriority) AS gid,
                   COALESCE(o_orderstatus, 'ALL') AS status,
                   COALESCE(o_orderpriority, 'ALL') AS priority,
                   CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust,
                   CAST(COUNT(*) AS BIGINT) AS n_rows
            FROM orders
            GROUP BY CUBE (o_orderstatus, o_orderpriority)
            ORDER BY gid, status, priority
        """,
        "ppr_scores": _ppr_oracle(),
        "temporal_reach": _temporal_reach_oracle(),
        "clustering_coeff": """
            WITH items AS (
              SELECT DISTINCT l_orderkey AS basket, p_brand AS item
              FROM lineitem JOIN part ON l_partkey = p_partkey),
            e AS (
              SELECT a.item AS u, b.item AS v
              FROM items a JOIN items b
                ON a.basket = b.basket AND a.item < b.item
              GROUP BY 1, 2 HAVING COUNT(*) >= 3),
            deg AS (
              SELECT u, CAST(COUNT(*) AS BIGINT) AS deg
              FROM (SELECT u, v FROM e
                    UNION ALL SELECT v, u FROM e)
              GROUP BY u),
            tri AS (
              SELECT e1.u AS a, e1.v AS b, e2.v AS c
              FROM e e1
              JOIN e e2 ON e1.v = e2.u
              JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
            corners AS (
              SELECT a AS vertex FROM tri
              UNION ALL SELECT b FROM tri
              UNION ALL SELECT c FROM tri),
            tcount AS (
              SELECT vertex, CAST(COUNT(*) AS BIGINT) AS n_triangles
              FROM corners GROUP BY vertex)
            SELECT u AS vertex, deg,
                   COALESCE(n_triangles, 0) AS n_triangles,
                   COALESCE(n_triangles, 0) * 2000000
                     // (deg * (deg - 1)) AS cc_ppm
            FROM deg LEFT JOIN tcount ON u = vertex
            WHERE deg >= 2 ORDER BY vertex
        """,
        "itemsets3": """
            WITH raw AS (
              SELECT DISTINCT user_id AS basket,
                     'i' || CAST(CAST(json_extract_string(props, '$.k')
                            AS BIGINT) % 30 AS VARCHAR) AS item
              FROM events WHERE day(ts) < 4),
            sizes AS (
              SELECT basket, COUNT(*) AS bsz FROM raw GROUP BY 1),
            flat AS (
              SELECT r.basket, r.item
              FROM raw r JOIN sizes s ON r.basket = s.basket
              WHERE s.bsz <= 1000),
            pairs AS (
              SELECT a.item AS item_a, b.item AS item_b
              FROM flat a JOIN flat b
                ON a.basket = b.basket AND a.item < b.item
              GROUP BY 1, 2 HAVING COUNT(*) >= 4),
            bp AS (
              SELECT f1.basket, f1.item AS a, f2.item AS b
              FROM flat f1
              JOIN flat f2 ON f1.basket = f2.basket
                          AND f1.item < f2.item
              JOIN pairs p ON p.item_a = f1.item
                          AND p.item_b = f2.item),
            ext AS (
              SELECT bp.a, bp.b, f3.item AS c
              FROM bp
              JOIN flat f3 ON f3.basket = bp.basket
                          AND f3.item > bp.b
              JOIN pairs pac ON pac.item_a = bp.a
                            AND pac.item_b = f3.item
              JOIN pairs pbc ON pbc.item_a = bp.b
                            AND pbc.item_b = f3.item)
            SELECT a AS item_a, b AS item_b, c AS item_c,
                   CAST(COUNT(*) AS BIGINT) AS triple_count
            FROM ext GROUP BY 1, 2, 3 HAVING COUNT(*) >= 4
            ORDER BY 1, 2, 3
        """,
        "layout_pruning": _layout_pruning_oracle(),
        "hex_bin": _hex_bin_oracle(),
        "markov_ksteps": """
            WITH seq AS (
              SELECT event_type AS from_state,
                     LEAD(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id)
                       AS to_state
              FROM events),
            cnt AS (
              SELECT from_state, to_state,
                     CAST(COUNT(*) AS BIGINT) AS n
              FROM seq WHERE to_state IS NOT NULL GROUP BY 1, 2),
            p1 AS (
              SELECT from_state, to_state,
                     n * 1000000 // CAST(SUM(n) OVER (
                       PARTITION BY from_state) AS BIGINT) AS p_ppm
              FROM cnt),
            p2 AS (
              SELECT a.from_state, b.to_state,
                     CAST(SUM(a.p_ppm * b.p_ppm) // 1000000
                          AS BIGINT) AS p_ppm
              FROM p1 a JOIN p1 b ON a.to_state = b.from_state
              GROUP BY 1, 2),
            p4 AS (
              SELECT a.from_state, b.to_state,
                     CAST(SUM(a.p_ppm * b.p_ppm) // 1000000
                          AS BIGINT) AS p_ppm
              FROM p2 a JOIN p2 b ON a.to_state = b.from_state
              GROUP BY 1, 2)
            SELECT from_state, to_state, p_ppm
            FROM p4 ORDER BY 1, 2
        """,
        "cdc_chunks": """
            WITH toks AS (
              SELECT doc_id, source, string_split(text, ' ') AS l
              FROM documents),
            words AS (
              SELECT doc_id, source,
                     unnest(range(1, len(l) + 1)) AS pos,
                     unnest(l) AS w
              FROM toks),
            flagged AS (
              SELECT doc_id, source, pos, w,
                     CASE WHEN pos > 1 AND
                          CAST(concat('0x', substr(md5(w), 1, 15))
                               AS BIGINT) % 8 = 0
                     THEN 1 ELSE 0 END AS b
              FROM words),
            chunked AS (
              SELECT doc_id, source, pos, w,
                     SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
                       ROW) AS chunk_id
              FROM flagged),
            chunks AS (
              SELECT doc_id, source,
                     md5(string_agg(w, ' ' ORDER BY pos))
                       AS chunk_hash
              FROM chunked GROUP BY doc_id, source, chunk_id)
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_chunks,
                   CAST(COUNT(DISTINCT chunk_hash) AS BIGINT)
                     AS n_distinct,
                   (CAST(COUNT(*) AS BIGINT)
                    - CAST(COUNT(DISTINCT chunk_hash) AS BIGINT))
                   * 1000000 // CAST(COUNT(*) AS BIGINT) AS dup_ppm
            FROM chunks GROUP BY source ORDER BY source
        """,
        "json_schema": """
            WITH payload AS (
              SELECT rtrim(props, '}') ||
                     CASE WHEN event_id % 5 = 0 THEN ', "opt": null'
                          WHEN event_id % 5 = 1 THEN ', "opt": true'
                          WHEN event_id % 5 = 2 THEN ', "opt": 1.5'
                          WHEN event_id % 5 = 3 THEN ', "opt": "s"'
                          ELSE '' END || '}' AS j
              FROM events),
            m AS (
              SELECT unnest(regexp_extract_all(j,
                '"([^"]+)"\\s*:\\s*("(?:[^"\\\\]|\\\\.)*"|[^,}]+)', 0))
                AS m
              FROM payload),
            typed AS (
              SELECT regexp_extract(m, '^"([^"]+)"', 1) AS key,
                     trim(regexp_extract(m, ':\\s*(.*)$', 1)) AS val
              FROM m),
            cls AS (
              SELECT key, val,
                     CASE WHEN val = 'null' THEN 'null'
                          WHEN val IN ('true', 'false') THEN 'bool'
                          WHEN regexp_matches(val, '^-?[0-9]+$')
                            THEN 'int'
                          WHEN regexp_matches(val,
                            '^-?[0-9]*\\.[0-9]+([eE][+-]?[0-9]+)?$')
                            THEN 'float'
                          WHEN starts_with(val, '"') THEN 'string'
                          ELSE 'other' END AS vtype
              FROM typed)
            SELECT key, vtype, CAST(COUNT(*) AS BIGINT) AS n,
                   MIN(val) AS example
            FROM cls GROUP BY 1, 2 ORDER BY key, vtype
        """,
        "item_cf": """
            WITH inc AS (
              SELECT DISTINCT user_id AS u,
                     CAST(CAST(json_extract_string(props, '$.k')
                          AS BIGINT) AS VARCHAR) AS i
              FROM events
              WHERE json_extract_string(props, '$.k') IS NOT NULL),
            capped AS (
              SELECT u, i FROM (
                SELECT u, i, ROW_NUMBER() OVER (
                  PARTITION BY u ORDER BY md5(i), i) AS r
                FROM inc)
              WHERE r <= 50),
            item_n AS (
              SELECT i, CAST(COUNT(*) AS BIGINT) AS n
              FROM capped GROUP BY 1),
            pairs AS (
              SELECT a.i AS ia, b.i AS ib,
                     CAST(COUNT(*) AS BIGINT) AS n_both
              FROM capped a JOIN capped b
                ON a.u = b.u AND a.i < b.i
              GROUP BY 1, 2),
            sym AS (
              SELECT ia, ib, n_both FROM pairs
              UNION ALL
              SELECT ib, ia, n_both FROM pairs),
            scored AS (
              SELECT ia, ib, n_both, na.n AS n_a, nb.n AS n_b,
                     CAST(FLOOR(1000000.0 * CAST(n_both AS DOUBLE)
                          / sqrt(CAST(na.n * nb.n AS DOUBLE)) + 0.5)
                          AS BIGINT) AS cos_ppm
              FROM sym
              JOIN item_n na ON sym.ia = na.i
              JOIN item_n nb ON sym.ib = nb.i),
            ranked AS (
              SELECT *, ROW_NUMBER() OVER (
                PARTITION BY ia ORDER BY cos_ppm DESC, ib) AS rk
              FROM scored)
            SELECT ia AS item_a, ib AS item_b, n_both, n_a, n_b,
                   cos_ppm, rk
            FROM ranked WHERE rk <= 5 ORDER BY item_a, rk
        """,
        "kaplan_meier": """
            WITH per_unit AS (
              SELECT event_type AS cohort,
                     user_id AS u,
                     MIN(CAST(ts AS DATE) - DATE '1970-01-01')
                       AS first_d,
                     MAX(CAST(ts AS DATE) - DATE '1970-01-01')
                       AS last_d
              FROM events GROUP BY 1, 2),
            mx AS (SELECT MAX(last_d) AS mx FROM per_unit),
            lifetimes AS (
              SELECT cohort, last_d - first_d AS t,
                     CASE WHEN last_d + 3 <= mx THEN 1 ELSE 0 END
                       AS dead
              FROM per_unit CROSS JOIN mx),
            cells AS (
              SELECT cohort, t, CAST(COUNT(*) AS BIGINT) AS ending,
                     CAST(SUM(dead) AS BIGINT) AS n_events
              FROM lifetimes GROUP BY 1, 2),
            at_risk AS (
              SELECT cohort, t, n_events,
                     CAST(SUM(ending) OVER (PARTITION BY cohort
                       ORDER BY t DESC ROWS BETWEEN UNBOUNDED
                       PRECEDING AND CURRENT ROW) AS BIGINT) AS n_risk
              FROM cells),
            steps AS (
              SELECT cohort, t, n_risk, n_events,
                     CAST(FLOOR(1000000.0
                       * ln(CAST(n_risk - n_events AS DOUBLE)
                            / CAST(n_risk AS DOUBLE)) + 0.5)
                       AS BIGINT) AS term
              FROM at_risk
              WHERE n_events > 0 AND n_events < n_risk),
            curve AS (
              SELECT cohort, t, n_risk, n_events,
                     CAST(SUM(term) OVER (PARTITION BY cohort
                       ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS BIGINT) AS ln_s_micro
              FROM steps)
            SELECT cohort, t, n_risk, n_events, ln_s_micro,
                   CAST(FLOOR(1000000.0
                     * exp(CAST(ln_s_micro AS DOUBLE) / 1000000.0)
                     + 0.5) AS BIGINT) AS surv_ppm
            FROM curve ORDER BY cohort, t
        """,
        "hilbert_key": _hilbert_oracle(),
        "url_normalize": _URL_CANON_CTE
        + """
            SELECT canonical, domain,
                   CAST(COUNT(*) AS BIGINT) AS n_urls,
                   MIN(doc_id) AS first_doc
            FROM canon GROUP BY 1, 2 ORDER BY canonical
        """,
        "domain_caps": _URL_CANON_CTE
        + """
            , ranked AS (
              SELECT domain, doc_id,
                     ROW_NUMBER() OVER (PARTITION BY domain
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                       AS rk
              FROM canon)
            SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_total,
                   CAST(SUM(CASE WHEN rk <= 3 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_kept,
                   string_agg(CASE WHEN rk <= 3
                              THEN CAST(doc_id AS VARCHAR) END,
                              ',' ORDER BY doc_id) AS kept_ids
            FROM ranked GROUP BY domain ORDER BY domain
        """,
        "cuped_adjust": """
            WITH per_unit AS (
              SELECT event_type AS stratum, user_id AS unit,
                     CAST(SUM(CASE WHEN day(ts) < 16 THEN 1 ELSE 0 END)
                          AS BIGINT) AS x,
                     CAST(SUM(CASE WHEN day(ts) < 16 THEN 0 ELSE 1 END)
                          AS BIGINT) AS y
              FROM events GROUP BY 1, 2),
            m AS (
              SELECT stratum, CAST(COUNT(*) AS BIGINT) AS n_units,
                     CAST(SUM(x) AS BIGINT) AS sx,
                     CAST(SUM(y) AS BIGINT) AS sy,
                     CAST(SUM(x * y) AS BIGINT) AS sxy,
                     CAST(SUM(x * x) AS BIGINT) AS sxx,
                     CAST(SUM(y * y) AS BIGINT) AS syy
              FROM per_unit GROUP BY 1),
            nums AS (
              SELECT stratum, n_units,
                     n_units * sxy - sx * sy AS cov_num,
                     n_units * sxx - sx * sx AS varx_num,
                     n_units * syy - sy * sy AS vary_num
              FROM m)
            SELECT stratum, n_units, cov_num, varx_num, vary_num,
                   CASE WHEN varx_num > 0 THEN CAST(FLOOR(
                     1000000.0 * CAST(cov_num AS DOUBLE)
                     / CAST(varx_num AS DOUBLE) + 0.5) AS BIGINT)
                   END AS theta_ppm,
                   CASE WHEN varx_num > 0 AND vary_num > 0
                   THEN CAST(FLOOR(
                     1000000.0 * CAST(cov_num AS DOUBLE)
                     * CAST(cov_num AS DOUBLE)
                     / (CAST(varx_num AS DOUBLE)
                        * CAST(vary_num AS DOUBLE)) + 0.5) AS BIGINT)
                   END AS varred_ppm
            FROM nums ORDER BY stratum
        """,
        "t_closeness": """
            WITH base AS (
              SELECT source, lang, LEAST(n_chars // 50, 20) AS lvl
              FROM documents WHERE n_chars IS NOT NULL),
            cells AS (
              SELECT source, lang, lvl, CAST(COUNT(*) AS BIGINT) AS c
              FROM base GROUP BY 1, 2, 3),
            grp AS (
              SELECT source, lang, CAST(SUM(c) AS BIGINT) AS n_g
              FROM cells GROUP BY 1, 2),
            levels AS (
              SELECT lvl, CAST(COUNT(*) AS BIGINT) AS c_all
              FROM base GROUP BY 1),
            tot AS (
              SELECT CAST(SUM(c_all) AS BIGINT) AS n_all,
                     CAST(COUNT(*) AS BIGINT) AS m,
                     MAX(lvl) AS max_lvl
              FROM levels),
            grid AS (
              SELECT g.source, g.lang, l.lvl, g.n_g,
                     COALESCE(c.c, 0) AS c, l.c_all
              FROM grp g CROSS JOIN levels l
              LEFT JOIN cells c ON c.source = g.source
                   AND c.lang = g.lang AND c.lvl = l.lvl),
            cum AS (
              SELECT source, lang, lvl, n_g,
                     CAST(SUM(c) OVER w AS BIGINT) AS cum_g,
                     CAST(SUM(c_all) OVER w AS BIGINT) AS cum_all
              FROM grid
              WINDOW w AS (PARTITION BY source, lang ORDER BY lvl
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW)),
            emd AS (
              SELECT source, lang, n_g, n_all, m,
                     CAST(SUM(ABS(cum_g * n_all - cum_all * n_g))
                          AS BIGINT) AS emd_num
              FROM cum CROSS JOIN tot
              WHERE lvl < max_lvl
              GROUP BY 1, 2, 3, 4, 5)
            SELECT source, lang, n_g AS n_rows, emd_num,
                   emd_num * 1000000 // ((m - 1) * n_g * n_all)
                     AS emd_ppm,
                   emd_num * 1000000 // ((m - 1) * n_g * n_all)
                     > 200000 AS is_risky
            FROM emd ORDER BY source, lang
        """,
        "wasserstein_drift": """
            WITH base AS (
              SELECT event_type AS stratum, day(ts) < 16 AS ia,
                     CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS x
              FROM events),
            counts AS (
              SELECT stratum, x,
                     CAST(SUM(CASE WHEN ia THEN 1 ELSE 0 END)
                          AS BIGINT) AS ca,
                     CAST(SUM(CASE WHEN NOT ia THEN 1 ELSE 0 END)
                          AS BIGINT) AS cb
              FROM base GROUP BY 1, 2),
            cum AS (
              SELECT stratum, x,
                     CAST(SUM(ca) OVER w AS BIGINT) AS cuma,
                     CAST(SUM(cb) OVER w AS BIGINT) AS cumb,
                     LEAD(x) OVER (PARTITION BY stratum ORDER BY x)
                       AS next_x
              FROM counts
              WINDOW w AS (PARTITION BY stratum ORDER BY x
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW)),
            tot AS (SELECT stratum, CAST(SUM(ca) AS BIGINT) AS n_a,
                           CAST(SUM(cb) AS BIGINT) AS n_b
                    FROM counts GROUP BY 1),
            agg AS (
              SELECT c.stratum, n_a, n_b,
                     CAST(SUM(ABS(cuma * n_b - cumb * n_a)
                              * (next_x - x)) AS BIGINT) AS w1_num
              FROM cum c JOIN tot USING (stratum)
              WHERE next_x IS NOT NULL
              GROUP BY 1, 2, 3)
            SELECT stratum, n_a, n_b, w1_num,
                   (1000 * w1_num) // (n_a * n_b) AS w1_milli
            FROM agg WHERE n_a > 0 AND n_b > 0 ORDER BY stratum
        """,
        "graph_voronoi": _graph_voronoi_oracle(),
        "growth_accounting": _GROWTH_ORACLE,
        "weighted_walks": _weighted_walk_oracle(),
        "session_metrics": """
            WITH b AS (
              SELECT event_id, user_id,
                     CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_s
              FROM events),
            l AS (
              SELECT event_id, user_id, ts_s,
                     LAG(ts_s) OVER (PARTITION BY user_id
                                     ORDER BY ts_s, event_id) AS prev_s
              FROM b),
            lab AS (
              SELECT user_id, ts_s,
                     CAST(SUM(CASE WHEN prev_s IS NULL
                                     OR ts_s - prev_s >= 1800
                                   THEN 1 ELSE 0 END)
                          OVER (PARTITION BY user_id
                                ORDER BY ts_s, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
                       AS session_seq
              FROM l),
            per AS (
              SELECT user_id, session_seq,
                     CAST(COUNT(*) AS BIGINT) AS n_ev,
                     CAST(MAX(ts_s) - MIN(ts_s) AS BIGINT) AS dur_s
              FROM lab GROUP BY 1, 2)
            SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_sessions,
                   CAST(SUM(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_bounce,
                   CAST(SUM(dur_s) AS BIGINT) AS total_dur_s,
                   CAST(SUM(n_ev) AS BIGINT) AS n_events
            FROM per GROUP BY user_id ORDER BY user_id
        """,
        "matryoshka_audit": _matryoshka_oracle((8, 16, 32, 64), 10),
        "attribution_linear": _ATTRIBUTION_LINEAR_ORACLE,
        "oov_rate": _OOV_ORACLE,
        "ks_drift": """
            WITH base AS (
              SELECT event_type AS stratum, day(ts) < 16 AS ia,
                     CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS x
              FROM events),
            counts AS (
              SELECT stratum, x,
                     CAST(SUM(CASE WHEN ia THEN 1 ELSE 0 END)
                          AS BIGINT) AS ca,
                     CAST(SUM(CASE WHEN NOT ia THEN 1 ELSE 0 END)
                          AS BIGINT) AS cb
              FROM base GROUP BY 1, 2),
            cum AS (
              SELECT stratum,
                     CAST(SUM(ca) OVER w AS BIGINT) AS cuma,
                     CAST(SUM(cb) OVER w AS BIGINT) AS cumb
              FROM counts
              WINDOW w AS (PARTITION BY stratum ORDER BY x
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW)),
            tot AS (SELECT stratum, CAST(SUM(ca) AS BIGINT) AS n_a,
                           CAST(SUM(cb) AS BIGINT) AS n_b
                    FROM counts GROUP BY 1),
            d AS (SELECT c.stratum, n_a, n_b,
                         CAST(MAX(ABS(cuma * n_b - cumb * n_a))
                              AS BIGINT) AS d_num
                  FROM cum c JOIN tot USING (stratum)
                  GROUP BY 1, 2, 3)
            SELECT stratum, n_a, n_b, d_num,
                   d_num * 1000000 // (n_a * n_b) AS d_ppm
            FROM d WHERE n_a > 0 AND n_b > 0 ORDER BY stratum
        """,
        "colbert_maxsim": _colbert_oracle(),
        "nucleus_cut": """
            WITH rev AS (
              SELECT strftime(o_orderdate, '%Y-%m') AS grp,
                     l_partkey AS part,
                     CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5)
                                   AS BIGINT)) AS BIGINT) AS w
              FROM orders JOIN lineitem ON o_orderkey = l_orderkey
              GROUP BY 1, 2),
            ranked AS (
              SELECT grp, part, w,
                     CAST(SUM(w) OVER (
                       PARTITION BY grp ORDER BY w DESC, part
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS cum,
                     CAST(SUM(w) OVER (PARTITION BY grp) AS BIGINT)
                       AS total
              FROM rev),
            kept AS (
              SELECT grp, w, total FROM ranked
              WHERE (cum - w) * 1000000 < total * 500000),
            tot AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_items
                    FROM rev GROUP BY 1)
            SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_kept, n_items,
                   CAST(SUM(w) AS BIGINT) * 1000000 // MAX(total)
                     AS kept_share_ppm
            FROM kept JOIN tot USING (grp)
            GROUP BY grp, n_items ORDER BY grp
        """,
        "pr_curve": """
            WITH t AS (SELECT unnest([50, 100, 200, 400, 800, 1600,
                                      3200, 6400]) AS threshold),
            tagged AS (
              SELECT t.threshold,
                     CASE WHEN n_chars >= t.threshold THEN 1 ELSE 0 END
                       AS p,
                     CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
              FROM documents CROSS JOIN t),
            g AS (
              SELECT threshold,
                     CAST(SUM(p * y) AS BIGINT) AS tp,
                     CAST(SUM(p * (1 - y)) AS BIGINT) AS fp,
                     CAST(SUM((1 - p) * y) AS BIGINT) AS fn
              FROM tagged GROUP BY 1)
            SELECT threshold, tp, fp, fn,
                   CASE WHEN tp + fp > 0
                        THEN tp * 1000000 // (tp + fp) END
                     AS precision_ppm,
                   CASE WHEN tp + fn > 0
                        THEN tp * 1000000 // (tp + fn) END
                     AS recall_ppm
            FROM g ORDER BY threshold
        """,
        "mutual_info": """
            WITH cells AS (
              SELECT CAST(o_orderpriority AS VARCHAR) AS a,
                     CAST(o_orderstatus AS VARCHAR) AS b,
                     CAST(COUNT(*) AS BIGINT) AS c
              FROM orders GROUP BY 1, 2),
            ra AS (SELECT a, CAST(SUM(c) AS BIGINT) AS ca
                   FROM cells GROUP BY a),
            rb AS (SELECT b, CAST(SUM(c) AS BIGINT) AS cb
                   FROM cells GROUP BY b),
            n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells)
            SELECT MAX(n.n) AS n,
                   CAST(SUM(c * (
                     CAST(FLOOR(ln(CAST(c AS DOUBLE)) * 1e9 + 0.5)
                          AS BIGINT)
                     + CAST(FLOOR(ln(CAST(n.n AS DOUBLE)) * 1e9 + 0.5)
                            AS BIGINT)
                     - CAST(FLOOR(ln(CAST(ca AS DOUBLE)) * 1e9 + 0.5)
                            AS BIGINT)
                     - CAST(FLOOR(ln(CAST(cb AS DOUBLE)) * 1e9 + 0.5)
                            AS BIGINT))) AS BIGINT) AS mi_num_q
            FROM cells JOIN ra USING (a) JOIN rb USING (b) CROSS JOIN n
        """,
        "temporal_split": """
            WITH tagged AS (
              SELECT CASE WHEN CAST(ts AS DATE) < DATE '2024-01-25'
                          THEN 'train' ELSE 'test' END AS split,
                     user_id
              FROM events),
            per AS (
              SELECT split, CAST(COUNT(*) AS BIGINT) AS n_rows,
                     CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
              FROM tagged GROUP BY 1),
            ovl AS (
              SELECT CAST(COUNT(*) AS BIGINT) AS n_overlap_users FROM (
                SELECT DISTINCT user_id FROM tagged
                WHERE split = 'train'
                INTERSECT
                SELECT DISTINCT user_id FROM tagged
                WHERE split = 'test'))
            SELECT split, n_rows, n_users, n_overlap_users
            FROM per CROSS JOIN ovl ORDER BY split
        """,
        "bigram_pmi": """
            WITH toks AS (
              SELECT doc_id, string_split(text, ' ') AS t
              FROM documents),
            bg AS (
              SELECT t[CAST(i AS INTEGER)] AS w1,
                     t[CAST(i AS INTEGER) + 1] AS w2
              FROM (SELECT t, unnest(range(1, len(t))) AS i
                    FROM toks WHERE len(t) >= 2)),
            cnts AS MATERIALIZED (
              SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt FROM bg
              WHERE length(w1) > 0 AND length(w2) > 0 GROUP BY 1, 2),
            nt AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM cnts),
            l AS (SELECT w1, CAST(SUM(cnt) AS BIGINT) AS c1
                  FROM cnts GROUP BY 1),
            r AS (SELECT w2, CAST(SUM(cnt) AS BIGINT) AS c2
                  FROM cnts GROUP BY 1)
            SELECT w1, w2, cnt,
                   CAST(FLOOR(ln(CAST(cnt AS DOUBLE)) * 1e9 + 0.5)
                        AS BIGINT)
                   + CAST(FLOOR(ln(CAST(n AS DOUBLE)) * 1e9 + 0.5)
                          AS BIGINT)
                   - CAST(FLOOR(ln(CAST(c1 AS DOUBLE)) * 1e9 + 0.5)
                          AS BIGINT)
                   - CAST(FLOOR(ln(CAST(c2 AS DOUBLE)) * 1e9 + 0.5)
                          AS BIGINT) AS pmi_q
            FROM cnts JOIN l USING (w1) JOIN r USING (w2) CROSS JOIN nt
            WHERE cnt >= 5
            ORDER BY pmi_q DESC, w1, w2 LIMIT 50
        """,
        "degree_assort": f"""
            WITH e AS (SELECT DISTINCT src AS u, dst AS v
                       FROM ({_CS_EDGES})),
            sym AS MATERIALIZED (
              SELECT DISTINCT u, v FROM (
                SELECT u, v FROM e UNION ALL SELECT v, u FROM e)),
            deg AS MATERIALIZED (
              SELECT u, CAST(COUNT(*) AS BIGINT) AS d
              FROM sym GROUP BY u),
            pairs AS (
              SELECT du.d AS x, dv.d AS y
              FROM sym JOIN deg du ON sym.u = du.u
              JOIN deg dv ON sym.v = dv.u),
            m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                         CAST(SUM(x) AS BIGINT) AS sx,
                         CAST(SUM(y) AS BIGINT) AS sy,
                         CAST(SUM(x * x) AS BIGINT) AS sxx,
                         CAST(SUM(y * y) AS BIGINT) AS syy,
                         CAST(SUM(x * y) AS BIGINT) AS sxy
                  FROM pairs)
            SELECT n AS n_ends,
                   CASE WHEN n * sxx - sx * sx > 0
                         AND n * syy - sy * sy > 0
                        THEN CAST(FLOOR(
                          CAST(n * sxy - sx * sy AS DOUBLE)
                          / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                                 * CAST(n * syy - sy * sy AS DOUBLE))
                          * 1e6 + 0.5) AS BIGINT)
                   END AS r_q
            FROM m
        """,
        "dau_wau": """
            WITH active AS (
              SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
              FROM events),
            dau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau
                    FROM active GROUP BY 1),
            contrib AS (
              SELECT DISTINCT user_id, day + CAST(i AS INTEGER) AS day
              FROM (SELECT user_id, day, unnest(range(0, 7)) AS i
                    FROM active)),
            wau AS (
              SELECT c.day, CAST(COUNT(*) AS BIGINT) AS wau
              FROM contrib c
              SEMI JOIN (SELECT DISTINCT day FROM active) d
                ON c.day = d.day
              GROUP BY 1)
            SELECT strftime(dau.day, '%Y-%m-%d') AS day, dau, wau,
                   dau * 1000000 // wau AS stickiness_ppm
            FROM dau JOIN wau USING (day) ORDER BY 1
        """,
        "gini_orders": """
            WITH base AS (
              SELECT strftime(o_orderdate, '%Y-%m') AS grp,
                     CAST(FLOOR(o_totalprice + 0.5) AS BIGINT) AS x
              FROM orders),
            ranked AS (
              SELECT grp, x, ROW_NUMBER() OVER (
                PARTITION BY grp ORDER BY x) AS i
              FROM base),
            g AS (SELECT grp, COUNT(*) AS n,
                         CAST(SUM(x) AS BIGINT) AS sx,
                         CAST(SUM(i * x) AS BIGINT) AS six
                  FROM ranked GROUP BY 1)
            SELECT grp, n, sx AS total,
                   (1000000 * (2 * six - (n + 1) * sx)) // (n * sx)
                     AS gini_ppm
            FROM g WHERE sx > 0 ORDER BY grp
        """,
        "bootstrap_ci": _bootstrap_oracle(40),
        "partition_checksums": _PARTITION_CHECKSUMS_ORACLE,
        "simpson_audit": _SIMPSON_ORACLE,
        "rendezvous_shards": _rendezvous_oracle(),
        "doc_entropy": _DOC_ENTROPY_ORACLE,
        "kfold_balance": _KFOLD_ORACLE,
        "blocking_eval": _blocking_eval_oracle(),
        "ewma_smooth": _ewma_oracle(8),
        "cusum_shift": _CUSUM_ORACLE,
        "random_walk_corpus": _random_walk_oracle(),
        "feature_hash": _FEATURE_HASH_ORACLE,
        "negative_sample": _NEGATIVE_SAMPLE_ORACLE,
        "pattern_match": """
            WITH seqs AS (
              SELECT user_id AS key,
                     string_agg(CASE event_type
                                WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
                                WHEN 'signup' THEN 's'
                                WHEN 'purchase' THEN 'p'
                                WHEN 'error' THEN 'e' ELSE 'x' END, ''
                                ORDER BY epoch_us(ts), event_id) AS seq
              FROM events GROUP BY user_id)
            SELECT key, CAST(length(seq) AS BIGINT) AS seq_len,
                   CAST(len(regexp_extract_all(seq, 'v[vc]*p')) AS BIGINT)
                     AS n_matches
            FROM seqs ORDER BY key
        """,
        "streak_days": """
            WITH days AS (
              SELECT DISTINCT user_id AS key, CAST(ts AS DATE) AS day
              FROM events),
            anch AS (
              SELECT key, day,
                     day - CAST(ROW_NUMBER() OVER (
                       PARTITION BY key ORDER BY day) AS INTEGER) AS anchor
              FROM days),
            st AS (SELECT key, anchor, COUNT(*) AS len
                   FROM anch GROUP BY 1, 2)
            SELECT key, CAST(SUM(len) AS BIGINT) AS n_active_days,
                   CAST(COUNT(*) AS BIGINT) AS n_streaks,
                   CAST(MAX(len) AS BIGINT) AS longest_streak
            FROM st GROUP BY key ORDER BY key
        """,
        "interval_merge": """
            WITH base AS (
              SELECT user_id AS key,
                     CAST(FLOOR(epoch(ts)) AS BIGINT) AS s,
                     CAST(FLOOR(epoch(ts)) AS BIGINT)
                       + (event_id % 7 + 1) * 60 AS e
              FROM events),
            flagged AS (
              SELECT key, s, e,
                     CASE WHEN s <= MAX(e) OVER (
                            PARTITION BY key ORDER BY s, e
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING)
                          THEN 0 ELSE 1 END AS new_island
              FROM base),
            islanded AS (
              SELECT key, s, e,
                     SUM(new_island) OVER (
                       PARTITION BY key ORDER BY s, e
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS island
              FROM flagged)
            SELECT key, MIN(s) AS start_s, MAX(e) AS end_s,
                   CAST(COUNT(*) AS BIGINT) AS n_merged
            FROM islanded GROUP BY key, island
            ORDER BY key, start_s, end_s
        """,
        "precede_pairs": """
            WITH firsts AS (
              SELECT user_id AS key, event_type AS t,
                     MIN(epoch_us(ts)) AS first_ts
              FROM events GROUP BY 1, 2)
            SELECT a.t AS type_a, b.t AS type_b,
                   CAST(COUNT(*) AS BIGINT) AS n_keys
            FROM firsts a JOIN firsts b
              ON a.key = b.key AND a.t <> b.t
             AND (a.first_ts < b.first_ts
                  OR (a.first_ts = b.first_ts AND a.t < b.t))
            GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "adamic_adar": _adamic_adar_oracle(),
        "sq8_error": _sq8_oracle(),
        "unicode_normalize": """
            WITH c AS (
              SELECT doc_id,
                     trim(regexp_replace(regexp_replace(
                       nfc_normalize(text),
                       '[\\x00-\\x1f\\x7f]', ' ', 'g'),
                       '[ \\t\\n\\r\\f\\x0b]+', ' ', 'g')) AS clean
              FROM documents)
            SELECT doc_id, CAST(length(clean) AS BIGINT) AS clean_len,
                   md5(clean) AS clean_md5
            FROM c ORDER BY doc_id
        """,
        "rrf_fusion": _rrf_oracle(),
        "sssp_dist": _sssp_oracle(),
        "hits_scores": _hits_oracle(),
        "delta_dedup": _delta_dedup_sql(16, bands=8, rows=2),
        "acf_lags": """
            WITH base AS (
              SELECT event_type AS grp, ts, event_id,
                     CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v
              FROM events),
            pairs AS (
              SELECT grp, 1 AS lag, v AS x,
                     LAG(v, 1) OVER (PARTITION BY grp
                                     ORDER BY ts, event_id) AS y
              FROM base
              UNION ALL
              SELECT grp, 2, v,
                     LAG(v, 2) OVER (PARTITION BY grp
                                     ORDER BY ts, event_id)
              FROM base
              UNION ALL
              SELECT grp, 3, v,
                     LAG(v, 3) OVER (PARTITION BY grp
                                     ORDER BY ts, event_id)
              FROM base),
            m AS (
              SELECT grp, lag, COUNT(*) AS n,
                     CAST(SUM(x) AS BIGINT) AS sx,
                     CAST(SUM(y) AS BIGINT) AS sy,
                     CAST(SUM(x * x) AS BIGINT) AS sxx,
                     CAST(SUM(y * y) AS BIGINT) AS syy,
                     CAST(SUM(x * y) AS BIGINT) AS sxy
              FROM pairs WHERE y IS NOT NULL GROUP BY 1, 2)
            SELECT grp AS event_type, lag, n,
                   CASE WHEN n * sxx - sx * sx > 0
                         AND n * syy - sy * sy > 0
                        THEN CAST(FLOOR(
                          CAST(n * sxy - sx * sy AS DOUBLE)
                          / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                                 * CAST(n * syy - sy * sy AS DOUBLE))
                          * 1e6 + 0.5) AS BIGINT)
                   END AS corrq
            FROM m
            ORDER BY event_type, lag
        """,
        "chi_square": """
            WITH cells AS (
              SELECT CAST(o_orderpriority AS VARCHAR) AS a,
                     CAST(o_orderstatus AS VARCHAR) AS b,
                     COUNT(*) AS o
              FROM orders GROUP BY 1, 2),
            r AS (SELECT a, CAST(SUM(o) AS BIGINT) AS r_tot
                  FROM cells GROUP BY a),
            c AS (SELECT b, CAST(SUM(o) AS BIGINT) AS c_tot
                  FROM cells GROUP BY b),
            g AS (SELECT CAST(SUM(o) AS BIGINT) AS n_tot FROM cells),
            j AS (SELECT cells.a, cells.b, o, r_tot, c_tot, n_tot
                  FROM cells JOIN r USING (a) JOIN c USING (b)
                  CROSS JOIN g),
            pc AS (
              SELECT a, b, o AS observed,
                     CAST(FLOOR(CAST(r_tot * c_tot AS DOUBLE)
                                / CAST(n_tot AS DOUBLE) * 1e6 + 0.5)
                          AS BIGINT) AS expected_q,
                     CAST(FLOOR(
                       CAST(o * n_tot - r_tot * c_tot AS DOUBLE)
                       * CAST(o * n_tot - r_tot * c_tot AS DOUBLE)
                       / CAST(r_tot * c_tot * n_tot AS DOUBLE)
                       * 1e6 + 0.5) AS BIGINT) AS contrib_q
              FROM j)
            SELECT a, b, observed, expected_q, contrib_q,
                   CAST(NULL AS BIGINT) AS dof
            FROM pc
            UNION ALL
            SELECT NULL, NULL, CAST(SUM(observed) AS BIGINT),
                   CAST(SUM(expected_q) AS BIGINT),
                   CAST(SUM(contrib_q) AS BIGINT),
                   ((SELECT COUNT(*) FROM r) - 1)
                   * ((SELECT COUNT(*) FROM c) - 1)
            FROM pc
            ORDER BY a NULLS LAST, b NULLS LAST
        """,
        "attribution": """
            WITH ev AS (
              SELECT user_id, ts, event_id, event_type,
                     CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS value_c,
                     CASE WHEN event_type IN ('view', 'click', 'signup')
                          THEN event_type END AS touch_ch
              FROM events),
            ann AS (
              SELECT event_type, value_c,
                     FIRST_VALUE(touch_ch IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) AS first_touch,
                     LAST_VALUE(touch_ch IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) AS last_touch
              FROM ev),
            conv AS (
              SELECT COALESCE(first_touch, '(none)') AS first_touch,
                     COALESCE(last_touch, '(none)') AS last_touch,
                     value_c
              FROM ann WHERE event_type = 'purchase'),
            m AS (
              SELECT 'first_touch' AS model, first_touch AS channel,
                     value_c FROM conv
              UNION ALL
              SELECT 'last_touch', last_touch, value_c FROM conv)
            SELECT model, channel, COUNT(*) AS n_conv,
                   CAST(SUM(value_c) AS BIGINT) AS value_c
            FROM m GROUP BY 1, 2
            ORDER BY model, channel
        """,
        "log_as_of": """
            WITH log AS (
              SELECT o_orderkey, 10 AS seq, 'I' AS op,
                     o_totalprice AS price
              FROM orders
              UNION ALL
              SELECT o_orderkey, 15, 'D', NULL FROM orders
              WHERE o_orderkey % 7 = 0
              UNION ALL
              SELECT o_orderkey, 20, 'U', o_totalprice + 100
              FROM orders WHERE o_orderkey % 3 = 0),
            latest AS (
              SELECT o_orderkey, op, price,
                     ROW_NUMBER() OVER (PARTITION BY o_orderkey
                                        ORDER BY seq DESC) AS rn
              FROM log WHERE seq <= 25)
            SELECT o_orderkey, price FROM latest
            WHERE rn = 1 AND op <> 'D'
        """,
        "quantile_norm": """
            WITH base AS (
              SELECT l_returnflag AS grp,
                     CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                       AS v,
                     l_orderkey * 10 + l_linenumber AS tb
              FROM lineitem),
            b AS (SELECT grp,
                         NTILE(10) OVER (PARTITION BY grp
                                         ORDER BY v, tb) AS bucket, v
                  FROM base),
            gb AS (SELECT grp, bucket, COUNT(*) AS n,
                          CAST(SUM(v) AS BIGINT) AS s
                   FROM b GROUP BY 1, 2),
            g2 AS (SELECT grp, bucket, n,
                          (s * 1000000) // n AS group_meanq
                   FROM gb),
            ref AS (SELECT bucket,
                           CAST(SUM(group_meanq) AS BIGINT) // COUNT(*)
                             AS ref_meanq
                    FROM g2 GROUP BY bucket)
            SELECT g2.grp, g2.bucket, g2.n, g2.group_meanq,
                   ref.ref_meanq
            FROM g2 JOIN ref USING (bucket)
        """,
        "woe_bins": """
            WITH base AS (
              SELECT CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                       AS v,
                     l_orderkey * 10 + l_linenumber AS tb,
                     CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
              FROM lineitem),
            b AS (SELECT NTILE(8) OVER (ORDER BY v, tb) AS bucket, y
                  FROM base),
            bins AS (SELECT bucket, COUNT(*) AS n,
                            CAST(SUM(y) AS BIGINT) AS goods
                     FROM b GROUP BY bucket),
            e AS (SELECT bucket, n, goods, n - goods AS bads,
                         2 * goods + 1 AS g2,
                         2 * (n - goods) + 1 AS b2
                  FROM bins),
            t AS (SELECT CAST(SUM(g2) AS BIGINT) AS gtot,
                         CAST(SUM(b2) AS BIGINT) AS btot FROM e)
            SELECT bucket, n, goods, bads,
                   CAST(FLOOR(ln(CAST(g2 * btot AS DOUBLE)) * 1e9 + 0.5)
                        AS BIGINT)
                 - CAST(FLOOR(ln(CAST(b2 * gtot AS DOUBLE)) * 1e9 + 0.5)
                        AS BIGINT) AS woeq,
                   ((g2 * 1000000 // gtot - b2 * 1000000 // btot) * woeq)
                     // 1000000 AS ivq
            FROM e, t
        """,
        "target_encode": """
            WITH base AS (
              SELECT o_orderpriority AS cat, o_orderkey % 5 AS fold,
                     CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END
                       AS y
              FROM orders),
            pf AS (SELECT cat, fold, COUNT(*) AS n_f,
                          CAST(SUM(y) AS BIGINT) AS sum_f
                   FROM base GROUP BY 1, 2),
            tot AS (SELECT cat, CAST(SUM(n_f) AS BIGINT) AS n_tot,
                           CAST(SUM(sum_f) AS BIGINT) AS sum_tot
                    FROM pf GROUP BY cat),
            grid AS (SELECT cat, n_tot, sum_tot, f.fold
                     FROM tot, UNNEST(range(5)) AS f(fold))
            SELECT g.cat, CAST(g.fold AS INT) AS fold,
                   g.n_tot - COALESCE(pf.n_f, 0) AS n_oof,
                   CASE WHEN g.n_tot - COALESCE(pf.n_f, 0) > 0 THEN
                     ((g.sum_tot - COALESCE(pf.sum_f, 0)) * 1000000)
                       // (g.n_tot - COALESCE(pf.n_f, 0))
                   END AS oof_meanq
            FROM grid g LEFT JOIN pf
              ON pf.cat = g.cat AND pf.fold = g.fold
        """,
        "snb_pairs": """
            WITH r AS (
              SELECT c_custkey, c_name,
                     ROW_NUMBER() OVER (ORDER BY
                       c_name || '|'
                       || lpad(CAST(c_custkey AS VARCHAR), 12, '0'))
                       - 1 AS rn
              FROM customer)
            SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
                   CAST(b.rn - a.rn AS BIGINT) AS rank_gap,
                   CAST(levenshtein(a.c_name, b.c_name) AS INT)
                     AS distance
            FROM r a JOIN r b
              ON b.rn > a.rn AND b.rn - a.rn <= 5
            WHERE levenshtein(a.c_name, b.c_name) <= 1
        """,
        "phrase_search": """
            WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
                       FROM documents),
            t AS (SELECT doc_id, CAST(i AS INT) AS pos, toks[i+1] AS term
                  FROM d, UNNEST(range(len(toks))) AS u(i)),
            p0 AS (SELECT doc_id, pos AS start FROM t WHERE term = 'slow'),
            p1 AS (SELECT doc_id, pos - 1 AS start FROM t
                   WHERE term = 'hash'),
            p2 AS (SELECT doc_id, pos - 2 AS start FROM t
                   WHERE term = 'batch')
            SELECT p0.doc_id, COUNT(*) AS n_matches,
                   CAST(MIN(p0.start) AS INT) AS first_pos
            FROM p0
            JOIN p1 USING (doc_id, start)
            JOIN p2 USING (doc_id, start)
            GROUP BY p0.doc_id
        """,
        "inverted_index": """
            WITH t2 AS (
              SELECT DISTINCT doc_id, term FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS term
                FROM documents)
              WHERE length(term) > 0)
            SELECT term,
                   array_to_string(list_sort(list(doc_id)), ',') AS postings,
                   COUNT(*) AS doc_freq
            FROM t2 GROUP BY term
        """,
        "unigram_logprob": """
            WITH t2 AS (
              SELECT doc_id, term FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS term
                FROM documents)
              WHERE length(term) > 0),
            vocab AS (SELECT term, COUNT(*) AS cnt FROM t2 GROUP BY term),
            total AS (SELECT SUM(cnt) AS tot FROM vocab),
            scored AS (
              SELECT doc_id,
                     ln(CAST(cnt AS DOUBLE))
                       - ln(CAST((SELECT tot FROM total) AS DOUBLE)) AS logp
              FROM t2 JOIN vocab USING (term))
            SELECT doc_id, COUNT(*) AS n_tokens,
                   FLOOR(AVG(logp) * 1e6 + 0.5) / 1e6 AS mean_logprob
            FROM scored GROUP BY doc_id
        """,
        "cdc_apply": """
            WITH snap AS (
              SELECT c_custkey,
                     CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents
              FROM customer),
            ch AS (
              SELECT o_custkey AS c_custkey, o_orderkey AS seq,
                     CASE o_orderstatus WHEN 'F' THEN 'U'
                                        WHEN 'O' THEN 'I'
                                        ELSE 'D' END AS op,
                     CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                       AS bal_cents
              FROM orders WHERE o_orderkey < 2000),
            latest AS (
              SELECT * FROM ch
              QUALIFY ROW_NUMBER() OVER (PARTITION BY c_custkey
                                         ORDER BY seq DESC) = 1)
            SELECT COALESCE(s.c_custkey, c.c_custkey) AS c_custkey,
                   CASE WHEN c.op IS NOT NULL THEN c.bal_cents
                        ELSE s.bal_cents END AS bal_cents
            FROM snap s FULL OUTER JOIN latest c
              ON s.c_custkey = c.c_custkey
            WHERE c.op IS NULL OR c.op <> 'D'
        """,
        "scd2_history": """
            WITH initial AS (
              SELECT c_custkey, c_mktsegment AS segment,
                     CAST(NULL AS TIMESTAMP) AS valid_from,
                     CAST(NULL AS BIGINT) AS seq
              FROM customer),
            upd AS (
              SELECT o_custkey AS c_custkey, o_orderpriority AS segment,
                     o_orderdate AS valid_from, o_orderkey AS seq
              FROM orders WHERE o_orderkey < 2000),
            v AS (SELECT * FROM initial UNION ALL SELECT * FROM upd),
            x AS (
              SELECT c_custkey, segment, valid_from,
                     LEAD(valid_from) OVER (
                       PARTITION BY c_custkey
                       ORDER BY valid_from ASC NULLS FIRST,
                                seq ASC NULLS FIRST) AS valid_to
              FROM v)
            SELECT c_custkey, segment,
                   strftime(valid_from, '%Y-%m-%d') AS valid_from,
                   strftime(valid_to, '%Y-%m-%d') AS valid_to,
                   valid_to IS NULL AS is_current
            FROM x
        """,
        "impute_group_mean": """
            WITH base AS (
              SELECT l_orderkey, l_linenumber, l_returnflag,
                     CASE WHEN l_linenumber = 3 THEN NULL
                          ELSE l_quantity END AS qty
              FROM lineitem WHERE l_orderkey < 3000)
            SELECT l_orderkey, l_linenumber, l_returnflag, qty,
                   COALESCE(qty, AVG(qty) OVER (PARTITION BY l_returnflag))
                     AS qty_filled
            FROM base
        """,
        "zscore_outliers": """
            WITH base AS (
              SELECT event_id, event_type,
                     CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v100
              FROM events WHERE event_id < 5000),
            m AS (
              SELECT event_id, event_type, v100,
                     CAST(COUNT(v100) OVER w AS DOUBLE) AS n,
                     CAST(SUM(v100) OVER w AS DOUBLE) AS sx,
                     CAST(SUM(v100 * v100) OVER w AS DOUBLE) AS sxx
              FROM base
              WINDOW w AS (PARTITION BY event_type)),
            z AS (
              SELECT event_id, event_type, v100,
                     CASE WHEN n >= 2
                           AND (n*sxx - sx*sx) / (n*(n-1)) > 0
                          THEN (n * CAST(v100 AS DOUBLE) - sx) / n
                               / SQRT((n*sxx - sx*sx) / (n*(n-1)))
                     END AS zscore
              FROM m)
            SELECT event_id, event_type, v100, zscore,
                   ABS(zscore) > 2.5 AS is_outlier
            FROM z
        """,
        "pivot_wide": """
            SELECT o_orderstatus,
                   COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT')
                     AS "1-URGENT",
                   COUNT(*) FILTER (WHERE o_orderpriority = '2-HIGH')
                     AS "2-HIGH",
                   COUNT(*) FILTER (WHERE o_orderpriority = '3-MEDIUM')
                     AS "3-MEDIUM",
                   COUNT(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED')
                     AS "4-NOT SPECIFIED",
                   COUNT(*) FILTER (WHERE o_orderpriority = '5-LOW')
                     AS "5-LOW"
            FROM orders GROUP BY o_orderstatus
        """,
        "mixture_sample": """
            WITH rated AS (
              SELECT doc_id, source,
                     CASE source WHEN 'src0' THEN 2500000
                                 WHEN 'src1' THEN 500000
                                 WHEN 'src2' THEN 0
                                 ELSE 1000000 END AS rm
              FROM documents),
            cop AS (
              SELECT doc_id, source, rm,
                     unnest(range(0, rm // 1000000 + 1)) AS copy
              FROM rated)
            SELECT doc_id, source, copy FROM cop
            WHERE copy < rm // 1000000
               OR CAST(concat('0x',
                    substr(md5(concat('s0:', CAST(doc_id AS VARCHAR), ':',
                                      CAST(copy AS VARCHAR))), 1, 15))
                  AS BIGINT) % 1000000 < rm % 1000000
        """,
        "quality_filter_report": """
            WITH toks AS (
              SELECT doc_id, string_split(text, ' ') AS l FROM documents),
            grams AS (
              SELECT doc_id,
                     unnest(list_transform(
                       range(1, greatest(len(l) - 1, 2)),
                       i -> array_to_string(list_slice(l, i, i + 2), ' ')
                     )) AS g
              FROM toks),
            gs AS (
              SELECT doc_id,
                     1.0 - CAST(COUNT(DISTINCT g) AS DOUBLE) / COUNT(*)
                       AS dup_gram_frac
              FROM grams GROUP BY doc_id),
            cnts AS (
              SELECT doc_id, term, COUNT(*) AS cnt
              FROM (SELECT doc_id, unnest(l) AS term FROM toks)
              GROUP BY doc_id, term),
            ts AS (
              SELECT doc_id,
                     CAST(SUM(cnt) AS BIGINT) AS n_tokens,
                     CAST(MAX(cnt) AS DOUBLE) / SUM(cnt) AS top_token_frac
              FROM cnts GROUP BY doc_id),
            feat AS (
              SELECT d.source,
                     ts.n_tokens BETWEEN 30 AND 5000 AS pass_len,
                     gs.dup_gram_frac < 0.1 AS pass_rep,
                     ts.top_token_frac < 0.12 AS pass_dom
              FROM gs JOIN ts USING (doc_id)
              JOIN documents d USING (doc_id))
            SELECT source, COUNT(*) AS n_docs,
                   CAST(SUM(CASE WHEN pass_len THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_pass_len,
                   CAST(SUM(CASE WHEN pass_rep THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_pass_rep,
                   CAST(SUM(CASE WHEN pass_dom THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_pass_dom,
                   CAST(SUM(CASE WHEN pass_len AND pass_rep AND pass_dom
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_all
            FROM feat GROUP BY source
        """,
        "grouping_sets": """
            SELECT o_orderstatus, o_orderpriority,
                   GROUPING(o_orderstatus, o_orderpriority) AS gid,
                   COUNT(*) AS n_rows,
                   CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                        AS BIGINT) AS sum_price_cents
            FROM orders
            GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                    (o_orderstatus), ())
        """,
        "window_distribution": """
            SELECT o_orderkey, o_orderpriority,
                   percent_rank() OVER w AS pct_rank,
                   cume_dist() OVER w AS cume,
                   ntile(4) OVER w AS quartile
            FROM orders
            WHERE o_orderkey < 5000
            WINDOW w AS (PARTITION BY o_orderpriority
                         ORDER BY o_totalprice, o_orderkey)
        """,
        "decontaminate": _SHINGLES_SQL
        + """,
            bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0),
            corp AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 50 <> 0)
            SELECT c.doc_id,
                   COUNT(*) AS n_shingles,
                   COUNT(b.shingle) AS n_overlap,
                   CAST(COUNT(b.shingle) AS DOUBLE) / COUNT(*)
                     AS overlap_frac,
                   COUNT(b.shingle) >= 1 AS contaminated
            FROM corp c LEFT JOIN bench b ON c.shingle = b.shingle
            GROUP BY c.doc_id
        """,
        "text_repetition": """
            WITH toks AS (
              SELECT doc_id, string_split(text, ' ') AS l FROM documents),
            grams AS (
              SELECT doc_id,
                     unnest(list_transform(
                       range(1, greatest(len(l) - 1, 2)),
                       i -> array_to_string(list_slice(l, i, i + 2), ' ')
                     )) AS g
              FROM toks),
            gs AS (
              SELECT doc_id,
                     1.0 - CAST(COUNT(DISTINCT g) AS DOUBLE) / COUNT(*)
                       AS dup_gram_frac
              FROM grams GROUP BY doc_id),
            cnts AS (
              SELECT doc_id, term, COUNT(*) AS cnt
              FROM (SELECT doc_id, unnest(l) AS term FROM toks)
              GROUP BY doc_id, term),
            ts AS (
              SELECT doc_id,
                     CAST(SUM(cnt) AS BIGINT) AS n_tokens,
                     CAST(MAX(cnt) AS DOUBLE) / SUM(cnt) AS top_token_frac
              FROM cnts GROUP BY doc_id)
            SELECT gs.doc_id, ts.n_tokens, gs.dup_gram_frac,
                   ts.top_token_frac
            FROM gs JOIN ts USING (doc_id)
        """,
        "histogram_price": """
            SELECT CAST(FLOOR(l_extendedprice / 5000.0) AS BIGINT) AS bin,
                   CAST(FLOOR(l_extendedprice / 5000.0) AS BIGINT) * 5000.0
                     AS bin_lo,
                   COUNT(*) AS n_rows
            FROM lineitem GROUP BY 1, 2
        """,
        "corr_exact": """
            WITH q AS (
              SELECT l_returnflag,
                     CAST(l_quantity AS BIGINT) AS x,
                     CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT) AS y
              FROM lineitem),
            m AS (
              SELECT l_returnflag, COUNT(*) AS n,
                     SUM(x) AS sx, SUM(y) AS sy, SUM(x*y) AS sxy,
                     SUM(x*x) AS sxx, SUM(y*y) AS syy
              FROM q GROUP BY l_returnflag)
            SELECT l_returnflag, n,
                   CAST(n*sxy - sx*sy AS DOUBLE) / n / (n - 1) AS cov_samp,
                   CAST(n*sxy - sx*sy AS DOUBLE)
                     / SQRT(CAST(n*sxx - sx*sx AS DOUBLE)
                            * CAST(n*syy - sy*sy AS DOUBLE)) AS corr
            FROM m
        """,
        "zorder_key": f"""
            SELECT l_orderkey, l_linenumber,
                   l_partkey % 4096 AS x,
                   l_suppkey % 4096 AS y,
                   {_morton_oracle_expr()} AS zkey
            FROM lineitem WHERE l_orderkey < 2000
        """,
        "rolling_range_window": """
            SELECT event_id, event_type,
                   COUNT(*) OVER w AS n_trailing_1h,
                   FLOOR(SUM(value) OVER w * 1e4 + 0.5) / 1e4
                     AS sum_trailing_1h
            FROM events WHERE event_id < 3000
            WINDOW w AS (PARTITION BY event_type
                         ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT)
                         RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        """,
        "events_tumbling": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
                     AS window_start,
                   strftime(date_trunc('hour', ts) + INTERVAL 1 HOUR,
                            '%Y-%m-%d %H:%M:%S') AS window_end,
                   event_type,
                   COUNT(*) AS n_events,
                   FLOOR(SUM(value) * 1e4 + 0.5) / 1e4 AS sum_value
            FROM events GROUP BY 1, 2, 3
        """,
        "events_sliding": """
            WITH starts AS (
              SELECT ts, event_type, value,
                     unnest([date_trunc('hour', ts) - INTERVAL 1 HOUR,
                             date_trunc('hour', ts)]) AS w_start
              FROM events)
            SELECT strftime(w_start, '%Y-%m-%d %H:%M:%S') AS window_start,
                   strftime(w_start + INTERVAL 2 HOUR, '%Y-%m-%d %H:%M:%S')
                     AS window_end,
                   event_type,
                   COUNT(*) AS n_events,
                   FLOOR(SUM(value) * 1e4 + 0.5) / 1e4 AS sum_value
            FROM starts GROUP BY 1, 2, 3
        """,
        "events_session": """
            WITH ordered AS (
              SELECT user_id, ts, value,
                     CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id
                                                  ORDER BY ts)
                            >= INTERVAL 30 MINUTE
                          OR LAG(ts) OVER (PARTITION BY user_id
                                           ORDER BY ts) IS NULL
                          THEN 1 ELSE 0 END AS is_new
              FROM events),
            islands AS (
              SELECT user_id, ts, value,
                     SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS sess
              FROM ordered)
            SELECT strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS window_start,
                   strftime(MAX(ts) + INTERVAL 30 MINUTE,
                            '%Y-%m-%d %H:%M:%S') AS window_end,
                   user_id,
                   COUNT(*) AS n_events,
                   FLOOR(SUM(value) * 1e4 + 0.5) / 1e4 AS sum_value
            FROM islands GROUP BY user_id, sess
        """,
        "tpch_q6": """
            SELECT CAST(SUM(CAST(FLOOR(l_extendedprice*100 + 0.5) AS BIGINT)
                            * CAST(FLOOR(l_discount*100 + 0.5) AS BIGINT))
                        AS BIGINT) AS revenue_c4,
                   COUNT(*) AS n_lines
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
              AND l_quantity < 24
              AND CAST(FLOOR(l_discount*100 + 0.5) AS BIGINT) BETWEEN 5 AND 7
        """,
        "tpch_q10": """
            SELECT c_custkey, c_name,
                   CAST(FLOOR(c_acctbal*100 + 0.5) AS BIGINT) AS acctbal_c,
                   n_name,
                   CAST(SUM(CAST(FLOOR(l_extendedprice*100 + 0.5) AS BIGINT)
                        * (100 - CAST(FLOOR(l_discount*100 + 0.5) AS BIGINT)))
                        AS BIGINT) AS revenue_c4
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE l_returnflag = 'R'
              AND o_orderdate >= TIMESTAMP '1996-10-01'
              AND o_orderdate < TIMESTAMP '1997-01-01'
            GROUP BY c_custkey, c_name, acctbal_c, n_name
            ORDER BY revenue_c4 DESC, c_custkey
            LIMIT 20
        """,
        "tpch_q18": """
            WITH big AS (
              SELECT l_orderkey, SUM(CAST(l_quantity AS BIGINT)) AS sum_qty
              FROM lineitem GROUP BY l_orderkey
              HAVING SUM(CAST(l_quantity AS BIGINT)) > 300)
            SELECT c_custkey, c_name, o_orderkey,
                   strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
                   CAST(FLOOR(o_totalprice*100 + 0.5) AS BIGINT)
                     AS totalprice_c,
                   CAST(sum_qty AS BIGINT) AS sum_qty
            FROM big
            JOIN orders ON o_orderkey = l_orderkey
            JOIN customer ON o_custkey = c_custkey
            ORDER BY totalprice_c DESC, o_orderkey
            LIMIT 100
        """,
        "tpch_q2": """
            WITH pairs AS (
              SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
            j AS (
              SELECT p_partkey, p_name, s_name,
                     CAST(FLOOR(s_acctbal*100 + 0.5) AS BIGINT) AS acctbal_c
              FROM pairs
              JOIN part ON l_partkey = p_partkey
              JOIN supplier ON l_suppkey = s_suppkey
              WHERE p_brand = 'Brand#3' AND p_size <= 10)
            SELECT p_partkey, p_name, s_name, acctbal_c
            FROM (SELECT *, MIN(acctbal_c) OVER (PARTITION BY p_partkey)
                         AS min_c FROM j)
            WHERE acctbal_c = min_c
            ORDER BY acctbal_c, p_partkey, s_name
            LIMIT 100
        """,
        "tpch_q4": """
            SELECT o_orderpriority, COUNT(*) AS order_count
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1996-04-01'
              AND EXISTS (SELECT 1 FROM lineitem
                          WHERE l_orderkey = o_orderkey
                            AND l_returnflag = 'R')
            GROUP BY o_orderpriority
            ORDER BY o_orderpriority
        """,
        "tpch_q7": """
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   CAST(year(l_shipdate) AS BIGINT) AS l_year,
                   CAST(SUM(CAST(FLOOR(l_extendedprice*100 + 0.5) AS BIGINT)
                        * (100 - CAST(FLOOR(l_discount*100 + 0.5) AS BIGINT)))
                        AS BIGINT) AS revenue_c4
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01'
                                 AND TIMESTAMP '1997-12-31'
              AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
            GROUP BY supp_nation, cust_nation, l_year
            ORDER BY supp_nation, cust_nation, l_year
        """,
        "tpch_q8": """
            WITH j AS (
              SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
                     CAST(FLOOR(l_extendedprice*100 + 0.5) AS BIGINT)
                       * (100 - CAST(FLOOR(l_discount*100 + 0.5) AS BIGINT))
                       AS rev_c4,
                     ns.n_name AS supp_nation
              FROM lineitem
              JOIN part ON l_partkey = p_partkey
              JOIN orders ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation nc ON c_nationkey = nc.n_nationkey
              JOIN region ON nc.n_regionkey = r_regionkey
              JOIN nation ns ON s_nationkey = ns.n_nationkey
              WHERE p_type = 'PROMO' AND r_name = 'EUROPE'
                AND o_orderdate BETWEEN TIMESTAMP '1996-01-01'
                                    AND TIMESTAMP '1997-12-31')
            SELECT o_year,
                   FLOOR(CAST(SUM(CASE WHEN supp_nation = 'NATION_3'
                                       THEN rev_c4 ELSE 0 END) AS DOUBLE)
                         / CAST(SUM(rev_c4) AS DOUBLE) * 1e6 + 0.5) / 1e6
                     AS mkt_share
            FROM j GROUP BY o_year ORDER BY o_year
        """,
        "tpch_q9": """
            SELECT n_name AS nation,
                   CAST(year(o_orderdate) AS BIGINT) AS o_year,
                   CAST(SUM(CAST(FLOOR(l_extendedprice*100 + 0.5) AS BIGINT)
                        * (100 - CAST(FLOOR(l_discount*100 + 0.5) AS BIGINT)))
                        AS BIGINT) AS sum_profit_c4
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN orders ON l_orderkey = o_orderkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE p_name LIKE '%widget%'
            GROUP BY n_name, year(o_orderdate)
            ORDER BY nation, o_year DESC
        """,
        "tpch_q11": """
            WITH sel AS (
              SELECT l_partkey,
                     CAST(l_quantity AS BIGINT)
                       * CAST(FLOOR(l_extendedprice*100 + 0.5) AS BIGINT)
                       AS val_c
              FROM lineitem
              WHERE l_suppkey IN (SELECT s_suppkey FROM supplier
                                  WHERE s_nationkey = 5))
            SELECT l_partkey, CAST(SUM(val_c) AS BIGINT) AS value_c
            FROM sel
            GROUP BY l_partkey
            HAVING SUM(val_c) * 1000 > (SELECT SUM(val_c) FROM sel)
            ORDER BY value_c DESC, l_partkey
        """,
        "tpch_q12": """
            SELECT l_linestatus,
                   CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                            THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                   CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                            THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
            GROUP BY l_linestatus ORDER BY l_linestatus
        """,
        "tpch_q13": """
            SELECT c_count, COUNT(*) AS custdist
            FROM (
              SELECT c_custkey, COUNT(o_orderkey) AS c_count
              FROM customer
              LEFT OUTER JOIN orders ON c_custkey = o_custkey
                                    AND o_orderstatus <> 'P'
              GROUP BY c_custkey)
            GROUP BY c_count
            ORDER BY custdist DESC, c_count DESC
        """,
        "tpch_q14": """
            SELECT FLOOR(100.0
                     * CAST(SUM(CASE WHEN p_type = 'PROMO'
                               THEN CAST(FLOOR(l_extendedprice*100 + 0.5) AS BIGINT)
                                 * (100 - CAST(FLOOR(l_discount*100 + 0.5) AS BIGINT))
                               ELSE 0 END) AS DOUBLE)
                     / CAST(SUM(CAST(FLOOR(l_extendedprice*100 + 0.5) AS BIGINT)
                          * (100 - CAST(FLOOR(l_discount*100 + 0.5) AS BIGINT)))
                        AS DOUBLE) * 1e6 + 0.5) / 1e6 AS promo_revenue_pct
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1996-09-01'
              AND l_shipdate < TIMESTAMP '1996-10-01'
        """,
        "tpch_q15": """
            WITH revenue AS (
              SELECT l_suppkey,
                     CAST(SUM(CAST(FLOOR(l_extendedprice*100 + 0.5) AS BIGINT)
                          * (100 - CAST(FLOOR(l_discount*100 + 0.5) AS BIGINT)))
                          AS BIGINT) AS total_revenue_c4
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                AND l_shipdate < TIMESTAMP '1996-04-01'
              GROUP BY l_suppkey)
            SELECT s_suppkey, s_name, total_revenue_c4
            FROM supplier JOIN revenue ON s_suppkey = l_suppkey
            WHERE total_revenue_c4 = (SELECT MAX(total_revenue_c4) FROM revenue)
            ORDER BY s_suppkey
        """,
        "tpch_q16": """
            SELECT p_brand, p_type, p_size,
                   COUNT(DISTINCT l_suppkey) AS supplier_cnt
            FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pairs
            JOIN part ON l_partkey = p_partkey
            WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
              AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
              AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                    WHERE s_acctbal < 0)
            GROUP BY p_brand, p_type, p_size
            ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
        """,
        "tpch_q17": """
            WITH stats AS (
              SELECT l_partkey AS sp_partkey,
                     SUM(CAST(l_quantity AS BIGINT)) AS sum_qty,
                     COUNT(*) AS cnt_qty
              FROM lineitem GROUP BY l_partkey)
            SELECT CAST(SUM(CAST(FLOOR(l_extendedprice*100 + 0.5) AS BIGINT))
                     AS BIGINT) AS total_price_c,
                   COUNT(*) AS n_lines
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN stats ON l_partkey = sp_partkey
            WHERE p_brand = 'Brand#2'
              AND CAST(l_quantity AS BIGINT) * 5 * cnt_qty < sum_qty
        """,
        "tpch_q19": """
            SELECT CAST(SUM(CAST(FLOOR(l_extendedprice*100 + 0.5) AS BIGINT)
                        * (100 - CAST(FLOOR(l_discount*100 + 0.5) AS BIGINT)))
                        AS BIGINT) AS revenue_c4,
                   COUNT(*) AS n_lines
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
                   AND l_quantity BETWEEN 1 AND 11)
               OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
                   AND l_quantity BETWEEN 10 AND 20)
               OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
                   AND l_quantity BETWEEN 20 AND 30)
        """,
        "tpch_q20": """
            SELECT s_suppkey, s_name,
                   CAST(FLOOR(s_acctbal*100 + 0.5) AS BIGINT) AS acctbal_c
            FROM supplier
            WHERE s_suppkey IN (
              SELECT l_suppkey FROM lineitem
              JOIN part ON l_partkey = p_partkey
              WHERE p_name LIKE '%red%'
                AND l_shipdate >= TIMESTAMP '1996-01-01'
                AND l_shipdate < TIMESTAMP '1997-01-01'
              GROUP BY l_suppkey
              HAVING SUM(CAST(l_quantity AS BIGINT)) > 100)
            ORDER BY s_suppkey
        """,
        "tpch_q21": """
            WITH l1 AS (
              SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk
              FROM lineitem
              WHERE l_returnflag = 'R'
                AND l_orderkey IN (SELECT o_orderkey FROM orders
                                   WHERE o_orderstatus = 'F'))
            SELECT s_name, COUNT(*) AS numwait
            FROM l1 JOIN supplier ON sk = s_suppkey
            WHERE EXISTS (SELECT 1 FROM lineitem l2
                          WHERE l2.l_orderkey = ok AND l2.l_suppkey <> sk)
              AND NOT EXISTS (SELECT 1 FROM lineitem l3
                              WHERE l3.l_orderkey = ok AND l3.l_suppkey <> sk
                                AND l3.l_returnflag = 'R')
            GROUP BY s_name
            ORDER BY numwait DESC, s_name
            LIMIT 20
        """,
        "tpch_q22": """
            WITH cust AS (
              SELECT c_custkey, c_nationkey,
                     CAST(FLOOR(c_acctbal*100 + 0.5) AS BIGINT) AS bal_c
              FROM customer),
            pos AS (
              SELECT SUM(bal_c) AS sum_pos, COUNT(*) AS n_pos
              FROM cust WHERE bal_c > 0)
            SELECT c_nationkey, COUNT(*) AS numcust,
                   CAST(SUM(bal_c) AS BIGINT) AS totacctbal_c
            FROM cust, pos
            WHERE bal_c * n_pos > sum_pos
              AND NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey
                                AND o_orderdate >= TIMESTAMP '2000-07-01')
            GROUP BY c_nationkey
            ORDER BY c_nationkey
        """,
        "sessionize_events": """
            WITH b AS (
              SELECT event_id, user_id,
                     CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_s
              FROM events),
            l AS (
              SELECT event_id, user_id, ts_s,
                     LAG(ts_s) OVER (PARTITION BY user_id
                                     ORDER BY ts_s, event_id) AS prev_s
              FROM b)
            SELECT event_id, user_id,
                   CAST(SUM(CASE WHEN prev_s IS NULL
                                   OR ts_s - prev_s >= 1800
                                 THEN 1 ELSE 0 END)
                        OVER (PARTITION BY user_id ORDER BY ts_s, event_id
                              ROWS UNBOUNDED PRECEDING) AS BIGINT)
                     AS session_seq
            FROM l
        """,
        "cohort_retention": """
            WITH f AS (
              SELECT user_id, MIN(date_trunc('day', ts)) AS cohort_day
              FROM events GROUP BY user_id),
            a AS (
              SELECT DISTINCT user_id, date_trunc('day', ts) AS day
              FROM events)
            SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
                   date_diff('day', cohort_day, day) AS day_offset,
                   COUNT(DISTINCT a.user_id) AS n_users
            FROM a JOIN f USING (user_id)
            GROUP BY 1, 2
        """,
        "funnel_conversion": """
            WITH b AS (
              SELECT user_id, event_type,
                     CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_s
              FROM events),
            s AS (
              SELECT user_id,
                     MIN(CASE WHEN event_type = 'signup' THEN ts_s END)
                       AS signup_s
              FROM b GROUP BY user_id),
            p AS (
              SELECT b.user_id, MIN(ts_s) AS first_purchase_s
              FROM b JOIN s ON b.user_id = s.user_id
              WHERE event_type = 'purchase' AND ts_s >= signup_s
              GROUP BY b.user_id)
            SELECT s.user_id, signup_s, first_purchase_s,
                   first_purchase_s - signup_s AS secs_to_convert
            FROM s LEFT JOIN p ON s.user_id = p.user_id
        """,
        "skew_report": """
            WITH c AS (
              SELECT l_suppkey, COUNT(*) AS n_rows
              FROM lineitem GROUP BY l_suppkey),
            t AS (SELECT SUM(n_rows) AS total FROM c)
            SELECT l_suppkey, n_rows,
                   CAST(n_rows * 1000000 // total AS BIGINT) AS share_ppm
            FROM c, t
            ORDER BY n_rows DESC, l_suppkey
            LIMIT 20
        """,
        "corpus_pipeline": """
            WITH corpus AS (
              SELECT * FROM documents WHERE doc_id % 50 <> 0),
            keyed AS (SELECT doc_id, md5(text) AS ck FROM corpus),
            keep AS (
              SELECT ck, MIN(doc_id) AS doc_id, COUNT(*) AS n_dups
              FROM keyed GROUP BY ck),
            d1 AS (
              SELECT c.*, k.n_dups
              FROM corpus c JOIN keep k ON c.doc_id = k.doc_id),
            toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM d1),
            grams AS (
              SELECT doc_id,
                     unnest(list_transform(
                       range(1, greatest(len(l) - 1, 2)),
                       i -> array_to_string(list_slice(l, i, i + 2), ' ')
                     )) AS g
              FROM toks),
            gs AS (
              SELECT doc_id,
                     1.0 - CAST(COUNT(DISTINCT g) AS DOUBLE) / COUNT(*)
                       AS dup_gram_frac
              FROM grams GROUP BY doc_id),
            cnts AS (
              SELECT doc_id, term, COUNT(*) AS cnt
              FROM (SELECT doc_id, unnest(l) AS term FROM toks)
              GROUP BY doc_id, term),
            ts AS (
              SELECT doc_id,
                     CAST(SUM(cnt) AS BIGINT) AS n_tokens,
                     CAST(MAX(cnt) AS DOUBLE) / SUM(cnt) AS top_token_frac
              FROM cnts GROUP BY doc_id),
            d2 AS (
              SELECT d1.doc_id, d1.text, d1.lang, d1.source, d1.n_dups,
                     ts.n_tokens
              FROM d1 JOIN gs USING (doc_id) JOIN ts USING (doc_id)
              WHERE ts.n_tokens BETWEEN 30 AND 5000
                AND gs.dup_gram_frac < 0.1
                AND ts.top_token_frac < 0.12),
            bsh AS (
              SELECT DISTINCT
                     unnest(list_transform(
                       range(1, greatest(len(l) - 1, 2)),
                       i -> array_to_string(list_slice(l, i, i + 2), ' ')
                     )) AS shingle
              FROM (SELECT string_split(text, ' ') AS l
                    FROM documents WHERE doc_id % 50 = 0)),
            csh AS (
              SELECT DISTINCT doc_id,
                     unnest(list_transform(
                       range(1, greatest(len(l) - 1, 2)),
                       i -> array_to_string(list_slice(l, i, i + 2), ' ')
                     )) AS shingle
              FROM (SELECT doc_id, string_split(text, ' ') AS l FROM d2)),
            cstats AS (
              SELECT c.doc_id, COUNT(*) AS n_sh, COUNT(b.shingle) AS n_ov
              FROM csh c LEFT JOIN bsh b ON c.shingle = b.shingle
              GROUP BY c.doc_id),
            d3 AS (
              SELECT d2.* FROM d2 JOIN cstats USING (doc_id)
              WHERE CAST(n_ov AS DOUBLE) / n_sh < 0.5),
            d4 AS (
              SELECT * FROM d3
              WHERE CAST(concat('0x',
                      substr(md5(concat('cp:', CAST(doc_id AS VARCHAR))),
                             1, 15)) AS BIGINT) % 1000000 < 500000)
            SELECT doc_id, source, lang, n_tokens, n_dups,
                   CAST(concat('0x',
                     substr(md5(concat('shard:', CAST(doc_id AS VARCHAR))),
                            1, 15)) AS BIGINT) % 8 AS shard
            FROM d4
        """,
        # the oracle IS the quadratic verifier the banding replaces
        "fuzzy_name_pairs": """
            SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
                   levenshtein(a.c_name, b.c_name) AS distance
            FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
            WHERE levenshtein(a.c_name, b.c_name) <= 1
        """,
        "json_shred": """
            WITH p AS (
              SELECT event_type,
                     CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
              FROM events)
            SELECT event_type,
                   COUNT(*) AS n,
                   CAST(SUM(k) AS BIGINT) AS sum_k,
                   MIN(k) AS min_k,
                   MAX(k) AS max_k,
                   CAST(SUM(CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_even
            FROM p GROUP BY event_type
        """,
        "bigram_next": """
            WITH toks AS (SELECT string_split(text, ' ') AS l
                          FROM documents WHERE len(string_split(text, ' ')) >= 2),
            ex AS (SELECT l, unnest(range(1, len(l))) AS i FROM toks),
            bi AS (SELECT l[i] AS w1, l[i + 1] AS w2, COUNT(*) AS cnt
                   FROM ex WHERE len(l[i]) > 0 AND len(l[i + 1]) > 0
                   GROUP BY 1, 2),
            tot AS (SELECT w1, CAST(SUM(cnt) AS BIGINT) AS total
                    FROM bi GROUP BY w1),
            ranked AS (
              SELECT w1, w2, cnt,
                     ROW_NUMBER() OVER (PARTITION BY w1
                                        ORDER BY cnt DESC, w2 ASC) AS rank
              FROM bi)
            SELECT r.w1, r.w2, r.rank, r.cnt, t.total,
                   FLOOR(LN(CAST(r.cnt AS DOUBLE) / CAST(t.total AS DOUBLE))
                         * 1e6 + 0.5) / 1e6 AS logp
            FROM ranked r JOIN tot t ON r.w1 = t.w1
            WHERE r.rank <= 3
        """,
        "distinctive_terms": """
            WITH terms AS (
              SELECT source AS grp, unnest(string_split(text, ' ')) AS term
              FROM documents),
            t AS (SELECT grp, term FROM terms WHERE len(term) > 0),
            per_grp AS (SELECT grp, term, COUNT(*) AS a
                        FROM t GROUP BY 1, 2),
            term_tot AS (SELECT term, CAST(SUM(a) AS BIGINT) AS t_total
                         FROM per_grp GROUP BY term),
            grp_tot AS (SELECT grp, CAST(SUM(a) AS BIGINT) AS big_a
                        FROM per_grp GROUP BY grp),
            corpus AS (SELECT COUNT(*) AS big_n FROM t),
            scored AS (
              SELECT p.grp, p.term, p.a,
                     LN((p.a + 0.5) / (g.big_a - p.a + 0.5))
                     - LN(((tt.t_total - p.a) + 0.5)
                          / (((SELECT big_n FROM corpus) - g.big_a)
                             - (tt.t_total - p.a) + 0.5)) AS score
              FROM per_grp p
              JOIN term_tot tt ON p.term = tt.term
              JOIN grp_tot g ON p.grp = g.grp),
            ranked AS (
              SELECT grp, term, a, score,
                     ROW_NUMBER() OVER (PARTITION BY grp
                                        ORDER BY score DESC, term ASC) AS rank
              FROM scored)
            SELECT grp AS source, term, rank, a,
                   FLOOR(score * 1e6 + 0.5) / 1e6 AS log_odds
            FROM ranked WHERE rank <= 5
        """,
        "winsorize_prices": """
            WITH v AS (
              SELECT l_returnflag,
                     CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                       AS price_c
              FROM lineitem),
            pct AS (
              SELECT l_returnflag,
                     CAST(FLOOR(QUANTILE_CONT(price_c, 0.05) + 0.5) AS BIGINT)
                       AS lo,
                     CAST(FLOOR(QUANTILE_CONT(price_c, 0.95) + 0.5) AS BIGINT)
                       AS hi
              FROM v GROUP BY l_returnflag),
            w AS (
              SELECT v.l_returnflag,
                     LEAST(GREATEST(price_c, lo), hi) AS wins,
                     price_c < lo AS c_low, price_c > hi AS c_high
              FROM v JOIN pct USING (l_returnflag))
            SELECT l_returnflag,
                   COUNT(*) AS n,
                   CAST(SUM(wins) AS BIGINT) AS sum_wins_c,
                   CAST(SUM(CASE WHEN c_low THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_low,
                   CAST(SUM(CASE WHEN c_high THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_high,
                   MIN(wins) AS min_wins_c,
                   MAX(wins) AS max_wins_c
            FROM w GROUP BY l_returnflag
        """,
        "basket_pairs": """
            WITH items AS (
              SELECT DISTINCT l_orderkey AS basket, p_brand AS item
              FROM lineitem JOIN part ON l_partkey = p_partkey),
            nb AS (SELECT COUNT(DISTINCT basket) AS n FROM items),
            sup AS (SELECT item, COUNT(*) AS item_count
                    FROM items GROUP BY item),
            pairs AS (
              SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS pair_count
              FROM items a JOIN items b
                ON a.basket = b.basket AND a.item < b.item
              GROUP BY 1, 2 HAVING COUNT(*) >= 3)
            SELECT item_a, item_b, pair_count,
                   sa.item_count AS count_a, sb.item_count AS count_b,
                   FLOOR(CAST((SELECT n FROM nb) AS DOUBLE)
                         * CAST(pair_count AS DOUBLE)
                         / CAST(sa.item_count * sb.item_count AS DOUBLE)
                         * 1e6 + 0.5) / 1e6 AS lift
            FROM pairs
            JOIN sup sa ON pairs.item_a = sa.item
            JOIN sup sb ON pairs.item_b = sb.item
        """,
        # merged incremental state must equal the direct full aggregate
        "incremental_rollup": """
            SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                   event_type,
                   COUNT(*) AS n_rows,
                   CAST(SUM(CAST(FLOOR(value * 10000 + 0.5) AS BIGINT))
                        AS BIGINT) AS sum_v4,
                   MIN(CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)) AS min_v4,
                   MAX(CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)) AS max_v4
            FROM events GROUP BY 1, 2
        """,
        "triangle_count": """
            WITH items AS (
              SELECT DISTINCT l_orderkey AS basket, p_brand AS item
              FROM lineitem JOIN part ON l_partkey = p_partkey),
            e AS (
              SELECT a.item AS u, b.item AS v
              FROM items a JOIN items b
                ON a.basket = b.basket AND a.item < b.item
              GROUP BY 1, 2 HAVING COUNT(*) >= 3),
            tri AS (
              SELECT e1.u AS a, e1.v AS b, e2.v AS c
              FROM e e1
              JOIN e e2 ON e1.v = e2.u
              JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
            corners AS (
              SELECT a AS vertex FROM tri
              UNION ALL SELECT b FROM tri
              UNION ALL SELECT c FROM tri)
            SELECT vertex, COUNT(*) AS n_triangles
            FROM corners GROUP BY vertex
        """,
        "column_entropy": """
            WITH st AS (
              SELECT 'o_orderstatus' AS "column",
                     CAST(o_orderstatus AS VARCHAR) AS val FROM orders
              UNION ALL
              SELECT 'o_orderpriority', CAST(o_orderpriority AS VARCHAR)
              FROM orders
              UNION ALL
              SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders),
            counts AS (SELECT "column", val, COUNT(*) AS cnt
                       FROM st GROUP BY 1, 2),
            wn AS (SELECT "column", cnt,
                          SUM(cnt) OVER (PARTITION BY "column") AS n
                   FROM counts),
            agg AS (
              SELECT "column", MAX(n) AS n, COUNT(*) AS n_distinct,
                     SUM(CAST(FLOOR(
                       -((CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE))
                         * LN(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE)))
                       * 1e9 + 0.5) AS BIGINT)) AS efp
              FROM wn GROUP BY "column")
            SELECT "column", CAST(n AS BIGINT) AS n, n_distinct,
                   FLOOR(CAST(efp AS DOUBLE) / 1e9 * 1e6 + 0.5) / 1e6
                     AS entropy
            FROM agg
        """,
        "profile_drift": """
            WITH b AS (SELECT * FROM orders
                       WHERE o_orderdate < '1996-01-01'),
            a AS (SELECT * FROM orders WHERE o_orderdate >= '1996-01-01'),
            pb AS (
              SELECT 'o_orderstatus' AS "column", COUNT(*) AS n_rows,
                     SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
                       AS n_nulls,
                     COUNT(DISTINCT o_orderstatus) AS n_distinct,
                     CAST(MIN(o_orderstatus) AS VARCHAR) AS min_str,
                     CAST(MAX(o_orderstatus) AS VARCHAR) AS max_str
              FROM b
              UNION ALL
              SELECT 'o_orderpriority', COUNT(*),
                     SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END),
                     COUNT(DISTINCT o_orderpriority),
                     CAST(MIN(o_orderpriority) AS VARCHAR),
                     CAST(MAX(o_orderpriority) AS VARCHAR) FROM b
              UNION ALL
              SELECT 'o_custkey', COUNT(*),
                     SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END),
                     COUNT(DISTINCT o_custkey),
                     CAST(MIN(o_custkey) AS VARCHAR),
                     CAST(MAX(o_custkey) AS VARCHAR) FROM b
              UNION ALL
              SELECT 'o_orderdate', COUNT(*),
                     SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END),
                     COUNT(DISTINCT o_orderdate),
                     CAST(MIN(o_orderdate) AS VARCHAR),
                     CAST(MAX(o_orderdate) AS VARCHAR) FROM b),
            pa AS (
              SELECT 'o_orderstatus' AS "column", COUNT(*) AS n_rows,
                     SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
                       AS n_nulls,
                     COUNT(DISTINCT o_orderstatus) AS n_distinct,
                     CAST(MIN(o_orderstatus) AS VARCHAR) AS min_str,
                     CAST(MAX(o_orderstatus) AS VARCHAR) AS max_str
              FROM a
              UNION ALL
              SELECT 'o_orderpriority', COUNT(*),
                     SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END),
                     COUNT(DISTINCT o_orderpriority),
                     CAST(MIN(o_orderpriority) AS VARCHAR),
                     CAST(MAX(o_orderpriority) AS VARCHAR) FROM a
              UNION ALL
              SELECT 'o_custkey', COUNT(*),
                     SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END),
                     COUNT(DISTINCT o_custkey),
                     CAST(MIN(o_custkey) AS VARCHAR),
                     CAST(MAX(o_custkey) AS VARCHAR) FROM a
              UNION ALL
              SELECT 'o_orderdate', COUNT(*),
                     SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END),
                     COUNT(DISTINCT o_orderdate),
                     CAST(MIN(o_orderdate) AS VARCHAR),
                     CAST(MAX(o_orderdate) AS VARCHAR) FROM a)
            SELECT pb."column",
                   pb.n_rows AS n_rows_before, pa.n_rows AS n_rows_after,
                   CAST(pb.n_nulls AS BIGINT) AS n_nulls_before,
                   CAST(pa.n_nulls AS BIGINT) AS n_nulls_after,
                   pb.n_distinct AS n_distinct_before,
                   pa.n_distinct AS n_distinct_after,
                   pa.n_distinct - pb.n_distinct AS distinct_delta,
                   pb.min_str <> pa.min_str AS min_changed,
                   pb.max_str <> pa.max_str AS max_changed
            FROM pb JOIN pa USING ("column")
        """,
        "seasonal_anomalies": """
            WITH bucketed AS (
              SELECT event_type AS key,
                     strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                     CAST(hour(ts) AS INT) AS hour,
                     CAST(FLOOR(value * 10000 + 0.5) AS BIGINT) AS vq
              FROM events),
            buckets AS (
              SELECT key, day, hour, CAST(SUM(vq) AS BIGINT) AS bucket_sum
              FROM bucketed GROUP BY 1, 2, 3),
            train AS (SELECT * FROM buckets WHERE day < '2024-01-25'),
            observe AS (SELECT * FROM buckets WHERE day >= '2024-01-25'),
            base AS (
              SELECT key, hour, COUNT(*) AS n_days,
                     CAST(SUM(bucket_sum) AS BIGINT) AS sx,
                     CAST(SUM(bucket_sum * bucket_sum) AS BIGINT) AS sxx
              FROM train GROUP BY 1, 2)
            SELECT o.key, o.day, o.hour, o.bucket_sum,
                   CASE WHEN b.n_days >= 1 THEN
                     FLOOR(CAST(sx AS DOUBLE) / n_days * 100.0 + 0.5) / 100.0
                   END AS base_mean,
                   CASE WHEN b.n_days >= 2
                         AND n_days * CAST(sxx AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
                   THEN
                     FLOOR((n_days * CAST(o.bucket_sum AS DOUBLE)
                            - CAST(sx AS DOUBLE))
                           / n_days
                           / SQRT((n_days * CAST(sxx AS DOUBLE)
                                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                                  / (n_days * (n_days - 1.0)))
                           * 1e6 + 0.5) / 1e6
                   END AS z,
                   CASE WHEN b.n_days >= 2
                         AND n_days * CAST(sxx AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
                   THEN
                     ABS((n_days * CAST(o.bucket_sum AS DOUBLE)
                          - CAST(sx AS DOUBLE))
                         / n_days
                         / SQRT((n_days * CAST(sxx AS DOUBLE)
                                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                                / (n_days * (n_days - 1.0)))) > 3.0
                   END AS is_anomaly
            FROM observe o LEFT JOIN base b USING (key, hour)
        """,
        # the oracle IS the quadratic all-pairs join the prefix filter
        # replaces — parity proves the filter lossless
        "setsim_prefix": """
            WITH toksl AS (SELECT doc_id, string_split(text, ' ') AS l
                           FROM documents),
            sh AS (
              SELECT DISTINCT doc_id,
                     unnest(list_transform(range(1, greatest(len(l) - 1, 2)),
                            i -> array_to_string(list_slice(l, i, i + 2), ' ')
                     )) AS tok
              FROM toksl),
            sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
            inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
              FROM sh a JOIN sh b
                ON a.tok = b.tok AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
            SELECT id_a, id_b, CAST(inter AS BIGINT) AS inter,
                   CAST(sa.sz + sb.sz - inter AS BIGINT) AS union_sz,
                   CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
            FROM inter
            JOIN sizes sa ON id_a = sa.doc_id
            JOIN sizes sb ON id_b = sb.doc_id
            WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5
        """,
        "concurrency_curve": """
            WITH se AS (SELECT l_orderkey, MAX(l_shipdate) AS ship_end
                        FROM lineitem GROUP BY 1),
            iv AS (
              SELECT o_orderpriority AS grp,
                     strftime(date_trunc('day', o_orderdate), '%Y-%m-%d')
                       AS d0,
                     strftime(date_trunc('day', ship_end)
                              + INTERVAL 1 DAY, '%Y-%m-%d') AS d1
              FROM orders JOIN se ON o_orderkey = l_orderkey),
            ev AS (
              SELECT grp, d0 AS instant, 1 AS d FROM iv
              UNION ALL SELECT grp, d1, -1 FROM iv),
            deltas AS (SELECT grp, instant, CAST(SUM(d) AS BIGINT) AS delta
                       FROM ev GROUP BY 1, 2)
            SELECT grp AS o_orderpriority, instant, delta,
                   CAST(SUM(delta) OVER (PARTITION BY grp ORDER BY instant
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS open_count
            FROM deltas
        """,
        "equidepth_hist": """
            WITH v AS (
              SELECT o_orderkey,
                     CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                       AS price_c
              FROM orders),
            b AS (SELECT price_c,
                         NTILE(8) OVER (ORDER BY price_c, o_orderkey)
                           AS bucket
                  FROM v)
            SELECT bucket, COUNT(*) AS n,
                   MIN(price_c) AS min_val, MAX(price_c) AS max_val
            FROM b GROUP BY bucket
        """,
        "weighted_sample": """
            WITH v AS (
              SELECT o_orderkey,
                     CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                       AS price_c
              FROM orders),
            pri AS (
              SELECT o_orderkey, price_c,
                     -LN((CAST(concat('0x', substr(md5(concat('w0:',
                            CAST(o_orderkey AS VARCHAR))), 1, 15)) AS BIGINT)
                          % 1000000 + 1) / 1000001.0)
                     / CAST(price_c AS DOUBLE) AS p
              FROM v WHERE price_c > 0)
            SELECT o_orderkey, price_c FROM pri
            ORDER BY p ASC, CAST(o_orderkey AS VARCHAR) ASC
            LIMIT 200
        """,
        "lm_score": """
            WITH train AS (SELECT * FROM documents WHERE doc_id % 10 <> 0),
            score AS (SELECT * FROM documents WHERE doc_id % 10 = 0),
            tl AS (SELECT string_split(text, ' ') AS l FROM train
                   WHERE len(string_split(text, ' ')) >= 2),
            tb0 AS (SELECT l, unnest(range(1, len(l))) AS i FROM tl),
            tbi AS (SELECT l[i] AS w1, l[i + 1] AS w2, COUNT(*) AS cnt
                    FROM tb0 WHERE len(l[i]) > 0 AND len(l[i + 1]) > 0
                    GROUP BY 1, 2),
            c1 AS (SELECT w1, CAST(SUM(cnt) AS BIGINT) AS c1
                   FROM tbi GROUP BY 1),
            uni AS (SELECT w, COUNT(*) AS cw
                    FROM (SELECT unnest(string_split(text, ' ')) AS w
                          FROM train)
                    WHERE len(w) > 0 GROUP BY 1),
            tot AS (SELECT CAST(SUM(cw) AS BIGINT) AS total FROM uni),
            sl AS (SELECT doc_id, string_split(text, ' ') AS l FROM score
                   WHERE len(string_split(text, ' ')) >= 2),
            sb0 AS (SELECT doc_id, l, unnest(range(1, len(l))) AS i FROM sl),
            sbi AS (SELECT doc_id, l[i] AS w1, l[i + 1] AS w2
                    FROM sb0 WHERE len(l[i]) > 0 AND len(l[i + 1]) > 0),
            terms AS (
              SELECT doc_id,
                     CAST(FLOOR(
                       CASE WHEN tbi.cnt IS NOT NULL AND c1.c1 IS NOT NULL
                            THEN LN(CAST(tbi.cnt AS DOUBLE)
                                    / CAST(c1.c1 AS DOUBLE))
                            ELSE LN((0.4 * CAST(COALESCE(uni.cw, 1)
                                               AS DOUBLE))
                                    / CAST((SELECT total FROM tot)
                                           AS DOUBLE))
                       END * 1e9 + 0.5) AS BIGINT) AS tfp
              FROM sbi
              LEFT JOIN tbi USING (w1, w2)
              LEFT JOIN c1 USING (w1)
              LEFT JOIN uni ON sbi.w2 = uni.w)
            SELECT doc_id, COUNT(*) AS n_bigrams,
                   FLOOR(CAST(SUM(tfp) AS DOUBLE) / 1e9 / COUNT(*)
                         * 1e6 + 0.5) / 1e6 AS avg_logprob
            FROM terms GROUP BY doc_id
        """,
        "pseudonymize_join": """
            WITH c AS (
              SELECT substr(md5(concat('s1:', CAST(c_custkey AS VARCHAR))),
                            1, 16) AS ck,
                     c_mktsegment
              FROM customer),
            o AS (
              SELECT substr(md5(concat('s1:', CAST(o_custkey AS VARCHAR))),
                            1, 16) AS ok
              FROM orders)
            SELECT c_mktsegment, COUNT(*) AS n_orders
            FROM c JOIN o ON ck = ok
            GROUP BY c_mktsegment
        """,
        "k_anonymity": """
            SELECT c_nationkey, c_mktsegment, COUNT(*) AS n_rows,
                   COUNT(*) < 5 AS is_risky
            FROM customer GROUP BY 1, 2
        """,
        "l_diversity": """
            SELECT c_nationkey, c_mktsegment, COUNT(*) AS n_rows,
                   COUNT(DISTINCT CAST(FLOOR(c_acctbal / 1000) AS BIGINT))
                     AS n_sensitive,
                   COUNT(DISTINCT CAST(FLOOR(c_acctbal / 1000) AS BIGINT)) < 3
                     AS is_risky
            FROM customer GROUP BY 1, 2
        """,
        "dp_noisy_counts": """
            WITH g AS (
              SELECT event_type, COUNT(*) AS n
              FROM events GROUP BY event_type
              HAVING COUNT(*) >= 10),
            h AS (
              SELECT event_type, n,
                     md5('r5' || chr(31) || event_type) AS hh
              FROM g)
            SELECT event_type,
                   CAST(n
                        + (ascii(substr(hh, 1, 1)) * 96
                           + ascii(substr(hh, 2, 1))) % 9
                        - (ascii(substr(hh, 3, 1)) * 96
                           + ascii(substr(hh, 4, 1))) % 9
                     AS BIGINT) AS noisy_count
            FROM h
        """,
        "skyline_frontier": """
            SELECT p.p_partkey, p.p_retailprice, p.p_size
            FROM part p
            WHERE NOT EXISTS (
              SELECT 1 FROM part q
              WHERE q.p_retailprice <= p.p_retailprice
                AND q.p_size >= p.p_size
                AND (q.p_retailprice < p.p_retailprice
                     OR q.p_size > p.p_size))
        """,
        "bfs_reach": """
            WITH RECURSIVE fwd AS (
              SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                     's' || CAST(l_suppkey AS VARCHAR) AS dst
              FROM orders JOIN lineitem ON o_orderkey = l_orderkey
              WHERE o_orderkey < 5000),
            edges AS (
              SELECT src, dst FROM fwd
              UNION ALL SELECT dst, src FROM fwd),
            bfs AS (
              SELECT 'c' || CAST(c_custkey AS VARCHAR) AS node, 0 AS d
              FROM customer WHERE c_custkey <= 3
              UNION
              SELECT e.dst, bfs.d + 1
              FROM bfs JOIN edges e ON bfs.node = e.src
              WHERE bfs.d < 4)
            SELECT node, CAST(MIN(d) AS INT) AS hops
            FROM bfs GROUP BY node
        """,
        "snapshot_diff": """
            WITH s_old AS (
              SELECT o_orderkey, o_totalprice FROM orders
              WHERE o_orderkey % 7 <> 0),
            s_new AS (
              SELECT o_orderkey,
                     CASE WHEN o_orderkey % 5 = 0
                          THEN o_totalprice + 100.0
                          ELSE o_totalprice END AS o_totalprice
              FROM orders WHERE o_orderkey % 11 <> 0),
            d AS (
              SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
                     CASE WHEN n.o_orderkey IS NULL THEN 'delete'
                          WHEN o.o_orderkey IS NULL THEN 'insert'
                          WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice
                            THEN 'update' END AS change_op,
                     o.o_totalprice AS old_o_totalprice,
                     n.o_totalprice AS new_o_totalprice
              FROM s_old o FULL OUTER JOIN s_new n
                ON o.o_orderkey = n.o_orderkey)
            SELECT * FROM d WHERE change_op IS NOT NULL
        """,
        "fd_check": """
            WITH v AS (
              SELECT o_custkey, COUNT(*) AS n_rows,
                     COUNT(DISTINCT o_orderpriority) AS n_rhs_values
              FROM orders GROUP BY 1
              HAVING COUNT(DISTINCT o_orderpriority) > 1)
            SELECT n_rhs_values, COUNT(*) AS n_groups
            FROM v GROUP BY n_rhs_values
        """,
        "dict_encode": """
            WITH d AS (
              SELECT p_brand,
                     DENSE_RANK() OVER (ORDER BY p_brand ASC) AS code
              FROM (SELECT DISTINCT p_brand FROM part)),
            f AS (SELECT p_brand, COUNT(*) AS n_rows
                  FROM part GROUP BY 1)
            SELECT d.p_brand, CAST(d.code AS BIGINT) AS code, f.n_rows
            FROM d JOIN f ON d.p_brand = f.p_brand
        """,
        "event_transitions": """
            WITH seq AS (
              SELECT event_type AS from_state,
                     LEAD(event_type) OVER (PARTITION BY user_id
                                            ORDER BY ts ASC, event_id ASC)
                       AS to_state
              FROM events),
            pairs AS (SELECT from_state, to_state, COUNT(*) AS n
                      FROM seq WHERE to_state IS NOT NULL GROUP BY 1, 2)
            SELECT from_state, to_state, n,
                   FLOOR(CAST(n AS DOUBLE)
                         / CAST(SUM(n) OVER (PARTITION BY from_state)
                                AS DOUBLE) * 1e6 + 0.5) / 1e6 AS p
            FROM pairs
        """,
        "sequence_gaps": """
            WITH ids AS (SELECT DISTINCT event_id AS id FROM events
                         WHERE value >= 1.0),
            lagged AS (SELECT id, LAG(id) OVER (ORDER BY id ASC) AS prev
                       FROM ids)
            SELECT prev + 1 AS gap_start, id - 1 AS gap_end,
                   id - prev - 1 AS gap_len
            FROM lagged WHERE prev IS NOT NULL AND id - prev > 1
        """,
        "benford_audit": """
            WITH d AS (
              SELECT TRY_CAST(regexp_extract(
                       CAST(ABS(o_totalprice) AS VARCHAR), '[1-9]', 0)
                     AS INT) AS digit
              FROM orders
              WHERE o_totalprice IS NOT NULL AND ABS(o_totalprice) > 0),
            counts AS (SELECT digit, COUNT(*) AS n FROM d
                       WHERE digit IS NOT NULL GROUP BY 1),
            wt AS (SELECT digit, n, SUM(n) OVER () AS n_total FROM counts)
            SELECT digit, n,
                   FLOOR(CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE)
                         * 1e6 + 0.5) / 1e6 AS observed_p,
                   FLOOR(LOG10(1.0 + 1.0 / CAST(digit AS DOUBLE))
                         * 1e6 + 0.5) / 1e6 AS expected_p,
                   FLOOR((CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE)
                          - LOG10(1.0 + 1.0 / CAST(digit AS DOUBLE)))
                         * (CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE)
                            - LOG10(1.0 + 1.0 / CAST(digit AS DOUBLE)))
                         / LOG10(1.0 + 1.0 / CAST(digit AS DOUBLE))
                         * CAST(n_total AS DOUBLE)
                         * 1e6 + 0.5) / 1e6 AS chi2_term
            FROM wt
        """,
        "psi_drift": """
            WITH hb AS (
              SELECT CAST(FLOOR(o_totalprice / 25000.0) AS BIGINT) AS bin,
                     COUNT(*) AS n_before
              FROM orders
              WHERE o_totalprice IS NOT NULL
                AND o_orderdate < '1996-01-01'
              GROUP BY 1),
            ha AS (
              SELECT CAST(FLOOR(o_totalprice / 25000.0) AS BIGINT) AS bin,
                     COUNT(*) AS n_after
              FROM orders
              WHERE o_totalprice IS NOT NULL
                AND o_orderdate >= '1996-01-01'
              GROUP BY 1),
            j AS (
              SELECT COALESCE(hb.bin, ha.bin) AS bin,
                     COALESCE(n_before, 0) AS n_before,
                     COALESCE(n_after, 0) AS n_after
              FROM hb FULL OUTER JOIN ha ON hb.bin = ha.bin),
            p AS (
              SELECT bin, n_before, n_after,
                     GREATEST(CAST(n_before AS DOUBLE)
                              / CAST(SUM(n_before) OVER () AS DOUBLE),
                              1e-6) AS pb,
                     GREATEST(CAST(n_after AS DOUBLE)
                              / CAST(SUM(n_after) OVER () AS DOUBLE),
                              1e-6) AS pa
              FROM j)
            SELECT bin,
                   CAST(n_before AS BIGINT) AS n_before,
                   CAST(n_after AS BIGINT) AS n_after,
                   FLOOR(pb * 1e6 + 0.5) / 1e6 AS p_before,
                   FLOOR(pa * 1e6 + 0.5) / 1e6 AS p_after,
                   FLOOR((pa - pb) * LN(pa / pb) * 1e6 + 0.5) / 1e6
                     AS psi_term
            FROM p
        """,
        "trend_fit": """
            WITH v AS (
              SELECT l_returnflag,
                     CAST(date_diff('day', DATE '1992-01-01',
                                    date_trunc('day', l_shipdate))
                          AS BIGINT) AS x,
                     CAST(FLOOR(l_extendedprice + 0.5) AS BIGINT) AS y
              FROM lineitem),
            m AS (
              SELECT l_returnflag, COUNT(*) AS n,
                     CAST(SUM(x) AS BIGINT) AS sx,
                     CAST(SUM(y) AS BIGINT) AS sy,
                     CAST(SUM(x * y) AS BIGINT) AS sxy,
                     CAST(SUM(x * x) AS BIGINT) AS sxx
              FROM v GROUP BY 1)
            SELECT l_returnflag, n,
                   CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0
                   THEN FLOOR((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                              / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                              * 1e6 + 0.5) / 1e6 END AS slope,
                   CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0
                   THEN FLOOR((CAST(sy AS DOUBLE)
                               - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                                 * CAST(sx AS DOUBLE))
                              / CAST(n AS DOUBLE) * 1e6 + 0.5) / 1e6
                   END AS intercept
            FROM m
        """,
        "mad_outliers": """
            WITH v AS (
              SELECT l_returnflag,
                     CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                       AS price_c
              FROM lineitem),
            med AS (
              SELECT l_returnflag,
                     CAST(FLOOR(QUANTILE_CONT(price_c, 0.5) + 0.5)
                          AS BIGINT) AS med_c
              FROM v GROUP BY 1),
            dev AS (
              SELECT v.l_returnflag, price_c, med_c,
                     ABS(price_c - med_c) AS d
              FROM v JOIN med USING (l_returnflag)),
            mad AS (
              SELECT l_returnflag,
                     CAST(FLOOR(QUANTILE_CONT(d, 0.5) + 0.5) AS BIGINT)
                       AS mad_c
              FROM dev GROUP BY 1)
            SELECT dev.l_returnflag, COUNT(*) AS n,
                   MAX(dev.med_c) AS med_c, MAX(mad.mad_c) AS mad_c,
                   CAST(SUM(CASE WHEN mad.mad_c > 0
                                  AND CAST(dev.d AS DOUBLE)
                                      > 3.0 * CAST(mad.mad_c AS DOUBLE)
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
            FROM dev JOIN mad USING (l_returnflag)
            GROUP BY dev.l_returnflag
        """,
        "label_centroids": """
            WITH ex AS (
              SELECT label,
                     generate_subscripts(embedding, 1) - 1 AS pos,
                     CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000
                                + 0.5) AS BIGINT) AS q
              FROM embeddings),
            agg AS (
              SELECT label, pos, COUNT(*) AS n,
                     CAST(SUM(q) AS BIGINT) AS sq,
                     CAST(SUM(q * q) AS BIGINT) AS sqq
              FROM ex GROUP BY 1, 2)
            SELECT label, pos, n,
                   FLOOR((CAST(sq AS DOUBLE) / CAST(n AS DOUBLE)) / 1000000.0
                         * 1e6 + 0.5) / 1e6 AS centroid,
                   FLOOR((CAST(sqq AS DOUBLE) / CAST(n AS DOUBLE)
                          - (CAST(sq AS DOUBLE) / CAST(n AS DOUBLE))
                            * (CAST(sq AS DOUBLE) / CAST(n AS DOUBLE)))
                         / 1000000000000.0 * 1e6 + 0.5) / 1e6 AS variance
            FROM agg
        """,
    }
    out["line_dedup"] = (
        _LINE_DEDUP_LINES_SQL
        + """,
        freq AS (
          SELECT line, COUNT(DISTINCT doc_id) AS ndocs
          FROM lines GROUP BY line)
        SELECT l.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(COUNT(*) FILTER (WHERE f.ndocs < 2) AS BIGINT)
                 AS n_kept,
               COALESCE(string_agg(l.line, ' ' ORDER BY l.idx)
                          FILTER (WHERE f.ndocs < 2), '') AS clean_text
        FROM lines l JOIN freq f USING (line)
        GROUP BY l.doc_id
    """
    )
    out["line_dedup_keep_first"] = (
        _LINE_DEDUP_LINES_SQL
        + """,
        freq AS (
          SELECT line, COUNT(DISTINCT doc_id) AS ndocs,
                 MIN(doc_id) AS fdoc
          FROM lines GROUP BY line),
        ffirst AS (
          SELECT l.line, MIN(l.idx) AS fidx
          FROM lines l JOIN freq f
            ON l.line = f.line AND l.doc_id = f.fdoc
          GROUP BY l.line),
        flagged AS (
          SELECT l.doc_id, l.idx, l.line,
                 (f.ndocs < 2 OR (l.doc_id = f.fdoc AND l.idx = ff.fidx))
                   AS keep
          FROM lines l
          JOIN freq f USING (line)
          JOIN ffirst ff ON ff.line = l.line)
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(COUNT(*) FILTER (WHERE keep) AS BIGINT) AS n_kept,
               COALESCE(string_agg(line, ' ' ORDER BY idx)
                          FILTER (WHERE keep), '') AS clean_text
        FROM flagged
        GROUP BY doc_id
    """
    )
    out["nb_classify"] = """
        WITH train AS (
          SELECT source AS label, text FROM documents
          WHERE doc_id % 5 <> 0),
        test AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
        ttoks AS (
          SELECT label, term FROM (
            SELECT label, unnest(string_split(text, ' ')) AS term
            FROM train)
          WHERE length(term) > 0),
        tc AS (
          SELECT label, term, COUNT(*) AS cnt
          FROM ttoks GROUP BY label, term),
        ts AS (
          SELECT term, label,
                 CAST(FLOOR(ln(CAST(cnt + 1 AS DOUBLE)) * 1e9 + 0.5)
                      AS BIGINT) AS lnc1q
          FROM tc),
        cstats AS (
          SELECT d.label,
                 CAST(FLOOR(ln(CAST(d.ndl AS DOUBLE)) * 1e9 + 0.5)
                      AS BIGINT)
                   - CAST(FLOOR(ln(CAST((SELECT COUNT(*) FROM train)
                                        AS DOUBLE)) * 1e9 + 0.5)
                          AS BIGINT) AS priorq,
                 CAST(FLOOR(ln(CAST(t.tot
                                    + (SELECT COUNT(DISTINCT term)
                                       FROM tc) AS DOUBLE))
                            * 1e9 + 0.5) AS BIGINT) AS penaltyq
          FROM (SELECT label, COUNT(*) AS ndl FROM train GROUP BY label) d
          JOIN (SELECT label, CAST(SUM(cnt) AS BIGINT) AS tot
                FROM tc GROUP BY label) t USING (label)),
        dt AS (
          SELECT doc_id, term FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM test)
          WHERE length(term) > 0),
        nd AS (SELECT doc_id, COUNT(*) AS n_toks FROM dt GROUP BY doc_id),
        sums AS (
          SELECT dt.doc_id, ts.label, CAST(SUM(ts.lnc1q) AS BIGINT)
                   AS sumq
          FROM dt JOIN ts USING (term)
          GROUP BY dt.doc_id, ts.label),
        scored AS (
          SELECT nd.doc_id, c.label,
                 c.priorq + COALESCE(s.sumq, 0)
                   - nd.n_toks * c.penaltyq AS scoreq
          FROM nd CROSS JOIN cstats c
          LEFT JOIN sums s
            ON s.doc_id = nd.doc_id AND s.label = c.label)
        SELECT doc_id, label AS pred, CAST(scoreq AS BIGINT) AS scoreq
        FROM scored
        QUALIFY ROW_NUMBER() OVER (
          PARTITION BY doc_id ORDER BY scoreq DESC, label DESC) = 1
    """
    out["media_ahash_pairs"] = """
        WITH px AS (
          SELECT doc_id AS media_id, CAST(i AS INT) AS i,
                 ascii(substr(text,
                              1 + CAST(FLOOR(i * length(text) / 64.0)
                                       AS INT), 1)) AS p
          FROM documents, UNNEST(range(64)) AS t(i)
          WHERE text IS NOT NULL AND length(text) > 0),
        h AS (
          SELECT media_id,
                 CAST(SUM(CASE WHEN p * 64 > tot AND i < 32
                               THEN CAST(2 AS BIGINT) ** i
                               ELSE 0 END) AS BIGINT) AS hi,
                 CAST(SUM(CASE WHEN p * 64 > tot AND i >= 32
                               THEN CAST(2 AS BIGINT) ** (i - 32)
                               ELSE 0 END) AS BIGINT) AS lo
          FROM (SELECT media_id, i, p,
                       SUM(p) OVER (PARTITION BY media_id) AS tot
                FROM px)
          GROUP BY media_id),
        bands AS (
          SELECT media_id, hi, lo, j,
                 CASE WHEN j < 4
                      THEN CAST(FLOOR(hi / (2 ** (8 * j))) AS BIGINT)
                             % 256
                      ELSE CAST(FLOOR(lo / (2 ** (8 * (j - 4))))
                                AS BIGINT) % 256
                 END AS bv
          FROM h, UNNEST(range(8)) AS t(j)),
        cand AS (
          SELECT DISTINCT a.media_id AS media_a, b.media_id AS media_b,
                 CAST(bit_count(xor(CAST(a.hi AS BIT), CAST(b.hi AS BIT)))
                      + bit_count(xor(CAST(a.lo AS BIT),
                                      CAST(b.lo AS BIT)))
                      AS BIGINT) AS hamming
          FROM bands a JOIN bands b
            ON a.j = b.j AND a.bv = b.bv AND a.media_id < b.media_id),
        pairs AS (
          SELECT media_a, media_b, hamming FROM cand WHERE hamming <= 7),
        sym AS (
          SELECT media_a AS media_id, media_b AS neighbor, hamming
          FROM pairs
          UNION ALL
          SELECT media_b AS media_id, media_a AS neighbor, hamming
          FROM pairs),
        ranked AS (
          SELECT media_id,
                 CAST(COUNT(*) OVER (PARTITION BY media_id) AS BIGINT)
                   AS n_neighbors,
                 CAST(ROW_NUMBER() OVER (
                   PARTITION BY media_id
                   ORDER BY hamming, neighbor) AS BIGINT) AS rnk,
                 neighbor, hamming
          FROM sym)
        SELECT media_id, n_neighbors, rnk, neighbor, hamming
        FROM ranked WHERE rnk <= 3
    """
    out["agg_delta_retract"] = """
        WITH base AS (
          SELECT o_orderkey, o_orderpriority,
                 CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
          FROM orders),
        eff AS (
          SELECT * FROM base
          WHERE o_orderkey < 3000 AND o_orderkey % 7 <> 0
          UNION ALL
          SELECT * FROM base
          WHERE o_orderkey >= 3000 AND o_orderkey < 4000)
        SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(cents) AS BIGINT) AS sum_cents
        FROM eff GROUP BY o_orderpriority
    """
    out["dsir_select"] = """
        WITH tgt AS (SELECT text FROM documents WHERE source = 'src0'),
        rawd AS (SELECT doc_id, text FROM documents
                 WHERE source <> 'src0'),
        ct AS (
          SELECT term, COUNT(*) AS cnt FROM (
            SELECT unnest(string_split(text, ' ')) AS term FROM tgt)
          WHERE length(term) > 0 GROUP BY term),
        cr AS (
          SELECT term, COUNT(*) AS cnt FROM (
            SELECT unnest(string_split(text, ' ')) AS term FROM rawd)
          WHERE length(term) > 0 GROUP BY term),
        delta AS (
          SELECT term,
                 CAST(FLOOR(ln(CAST(COALESCE(ct.cnt, 0) + 1 AS DOUBLE))
                            * 1e9 + 0.5) AS BIGINT)
                 - CAST(FLOOR(ln(CAST(COALESCE(cr.cnt, 0) + 1 AS DOUBLE))
                              * 1e9 + 0.5) AS BIGINT) AS deltaq,
                 COALESCE(ct.cnt, 0) AS cnt_t,
                 COALESCE(cr.cnt, 0) AS cnt_r
          FROM ct FULL OUTER JOIN cr USING (term)),
        tot AS (
          SELECT COUNT(*) AS v, CAST(SUM(cnt_t) AS BIGINT) AS tt,
                 CAST(SUM(cnt_r) AS BIGINT) AS tr FROM delta),
        pen AS (
          SELECT CAST(FLOOR(ln(CAST(tt + v AS DOUBLE)) * 1e9 + 0.5)
                      AS BIGINT)
                 - CAST(FLOOR(ln(CAST(tr + v AS DOUBLE)) * 1e9 + 0.5)
                        AS BIGINT) AS p
          FROM tot),
        dt AS (
          SELECT doc_id, term FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM rawd)
          WHERE length(term) > 0),
        sums AS (
          SELECT dt.doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks,
                 CAST(SUM(d.deltaq) AS BIGINT) AS sumq
          FROM dt JOIN delta d USING (term) GROUP BY dt.doc_id),
        w AS (
          SELECT doc_id, n_toks,
                 sumq - n_toks * (SELECT p FROM pen) AS weightq
          FROM sums),
        th AS (
          SELECT MIN(weightq) AS minw FROM (
            SELECT weightq FROM w
            ORDER BY weightq DESC, doc_id LIMIT 50))
        SELECT doc_id, n_toks, weightq,
               weightq >= (SELECT minw FROM th) AS selected
        FROM w
    """
    out["bm25_retrieval"] = (
        f"WITH {_bm25_cte(('spark', 'window', 'merge'))}\n"
        "SELECT doc_id, n_hits, scoreq FROM bm"
    )
    from det_module_spark.operators.kmeans import kmeans_sql

    out["kmeans_clusters"] = kmeans_sql(k=8, iters=2)
    out["corpus_pipeline_v2"] = (
        _LINE_DEDUP_LINES_SQL
        + f""",
        lfreq AS (
          SELECT line, COUNT(DISTINCT doc_id) AS ndocs
          FROM lines GROUP BY line),
        cleaned0 AS (
          SELECT l.doc_id,
                 COUNT(*) FILTER (WHERE f.ndocs < 2) AS n_kept,
                 COALESCE(string_agg(l.line, ' ' ORDER BY l.idx)
                            FILTER (WHERE f.ndocs < 2), '') AS text
          FROM lines l JOIN lfreq f USING (line)
          GROUP BY l.doc_id),
        cleaned AS (
          SELECT c.doc_id, c.text, d.source
          FROM cleaned0 c JOIN documents d USING (doc_id)
          WHERE c.n_kept >= 2),
        tgt AS (SELECT text FROM cleaned WHERE source = 'src0'),
        rawd AS (SELECT doc_id, text FROM cleaned
                 WHERE source <> 'src0'),
        ct AS (
          SELECT term, COUNT(*) AS cnt FROM (
            SELECT unnest(string_split(text, ' ')) AS term FROM tgt)
          WHERE length(term) > 0 GROUP BY term),
        cr AS (
          SELECT term, COUNT(*) AS cnt FROM (
            SELECT unnest(string_split(text, ' ')) AS term FROM rawd)
          WHERE length(term) > 0 GROUP BY term),
        delta AS (
          SELECT term,
                 CAST(FLOOR(ln(CAST(COALESCE(ct.cnt, 0) + 1 AS DOUBLE))
                            * 1e9 + 0.5) AS BIGINT)
                 - CAST(FLOOR(ln(CAST(COALESCE(cr.cnt, 0) + 1 AS DOUBLE))
                              * 1e9 + 0.5) AS BIGINT) AS deltaq,
                 COALESCE(ct.cnt, 0) AS cnt_t,
                 COALESCE(cr.cnt, 0) AS cnt_r
          FROM ct FULL OUTER JOIN cr USING (term)),
        tot AS (
          SELECT COUNT(*) AS v, CAST(SUM(cnt_t) AS BIGINT) AS tt,
                 CAST(SUM(cnt_r) AS BIGINT) AS tr FROM delta),
        pen AS (
          SELECT CAST(FLOOR(ln(CAST(tt + v AS DOUBLE)) * 1e9 + 0.5)
                      AS BIGINT)
                 - CAST(FLOOR(ln(CAST(tr + v AS DOUBLE)) * 1e9 + 0.5)
                        AS BIGINT) AS p
          FROM tot),
        dt AS (
          SELECT doc_id, term FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM rawd)
          WHERE length(term) > 0),
        sums AS (
          SELECT dt.doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks,
                 CAST(SUM(d.deltaq) AS BIGINT) AS sumq
          FROM dt JOIN delta d USING (term) GROUP BY dt.doc_id),
        w AS (
          SELECT doc_id, n_toks,
                 sumq - n_toks * (SELECT p FROM pen) AS weightq
          FROM sums),
        th AS (
          SELECT MIN(weightq) AS minw FROM (
            SELECT weightq FROM w
            ORDER BY weightq DESC, doc_id LIMIT 100))
        SELECT s.doc_id, s.n_toks, s.weightq,
               s.weightq >= (SELECT minw FROM th) AS selected, k.cid
        FROM w s JOIN ({kmeans_sql(k=8, iters=1)}) k
          ON k.vec_id = s.doc_id
    """
    )
    # round-9 registrations (preference/labeling QC, built + verified
    # with the driver's own comparison in r8: tests/test_r9_queue.py)
    out["bt_strengths"] = _bt_strengths_sql()
    out["bucket_plan"] = _bucket_plan_sql()
    out["label_agreement"] = _label_agreement_sql()
    out["rater_reliability"] = _rater_reliability_sql()
    out["elo_ratings"] = _elo_ratings_sql()
    out["krippendorff_alpha"] = _krippendorff_alpha_sql()
    out["win_rate_matrix"] = _win_rate_matrix_sql()
    out["length_bias"] = _length_bias_sql()
    out["rank_agreement"] = _rank_agreement_sql()
    # round-10 registrations (built + gated in r9, test_r10_queue.py)
    out["weighted_consensus"] = _weighted_consensus_sql()
    out["supplier_rank_tau"] = _supplier_rank_tau_sql()
    out["preference_cycles"] = _preference_cycles_sql()
    out["copeland_ranking"] = _copeland_ranking_sql()
    out["cycles_by_gap"] = _cycles_by_gap_sql()
    out["elo_calibration"] = _elo_calibration_sql()
    out["pairwise_coverage"] = _pairwise_coverage_sql()
    out["player_consistency"] = _player_consistency_sql()
    out["fleiss_kappa"] = _fleiss_kappa_sql()
    out["pass_at_k"] = _pass_at_k_sql()
    out["mcnemar_pairs"] = _mcnemar_pairs_sql()
    out["item_discrimination"] = _item_discrimination_sql()
    out["auc_roc"] = _auc_roc_sql()
    out["ks_test"] = _ks_test_sql()
    try:
        out["approx_stats"] = _approx_stats_sql()
    except ValueError:
        pass  # SF with no pinned goldens: un-oracled (rows-only check)
    return out
