"""Tests for the Z-order layout key, decontamination, repetition
signals, histogram, and exact-moment correlation."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from det_module_spark.operators.decontaminate import (
    contamination_report,
    decontaminate,
)
from det_module_spark.operators.layout import morton_key
from det_module_spark.operators.profile import grouped_corr_exact, histogram
from det_module_spark.operators.text import repetition_features


def _morton_ref(x: int, y: int) -> int:
    """Bit-at-a-time reference interleave."""
    z = 0
    for i in range(16):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


def test_morton_key_matches_reference(spark):
    pts = [(0, 0), (1, 0), (0, 1), (3, 5), (255, 255), (4095, 17), (65535, 65535)]
    df = spark.createDataFrame(pts, "x int, y int").select(
        "x", "y", morton_key(F.col("x"), F.col("y")).alias("z")
    )
    for row in df.collect():
        assert row.z == _morton_ref(row.x, row.y), (row.x, row.y)


def test_zorder_locality(spark):
    # files sorted by the Z key cover tight rectangles: the max
    # per-quadrant key spread must be far below the global key range
    n = 32
    pts = [(x, y) for x in range(n) for y in range(n)]
    df = spark.createDataFrame(pts, "x int, y int")
    keyed = df.withColumn("zkey", morton_key(F.col("x"), F.col("y")))
    rows = keyed.select("x", "y", "zkey").collect()
    assert len({r.zkey for r in rows}) == n * n  # bijective
    # quadrant (x<16, y<16) occupies exactly the first quarter of keys
    q = [r.zkey for r in rows if r.x < 16 and r.y < 16]
    assert max(q) < n * n // 4 <= min(
        r.zkey for r in rows if r.x >= 16 and r.y >= 16
    )


def test_contamination_report_and_decontaminate(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),  # shares trigrams with the benchmark
            (2, "z y x w v"),  # clean
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "a b c d q")], "doc_id long, text string"
    )
    rep = {
        r.doc_id: r for r in contamination_report(docs, bench, n=3).collect()
    }
    # doc 1 trigrams: {a b c, b c d, c d e}; bench has {a b c, b c d, c d q}
    assert rep[1].n_shingles == 3 and rep[1].n_overlap == 2
    assert rep[1].contaminated and math.isclose(rep[1].overlap_frac, 2 / 3)
    assert rep[2].n_overlap == 0 and not rep[2].contaminated
    kept = decontaminate(docs, bench, n=3).select("doc_id").collect()
    assert [r.doc_id for r in kept] == [2]


def test_repetition_features(spark):
    docs = spark.createDataFrame(
        [
            (1, "a a a a a a"),  # one distinct 3-gram of 4 total
            (2, "a b c d e f"),  # no repetition
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in repetition_features(docs).collect()}
    assert rows[1].n_tokens == 6
    assert math.isclose(rows[1].dup_gram_frac, 1 - 1 / 4)
    assert math.isclose(rows[1].top_token_frac, 1.0)
    assert rows[2].dup_gram_frac == 0.0
    assert math.isclose(rows[2].top_token_frac, 1 / 6)


def test_histogram_bins(spark):
    df = spark.createDataFrame([(0.5,), (1.5,), (1.9,), (7.0,)], "v double")
    rows = {r.bin: r for r in histogram(df, "v", 1.0).collect()}
    assert rows[0].n_rows == 1 and rows[1].n_rows == 2 and rows[7].n_rows == 1
    assert rows[7].bin_lo == 7.0


def test_grouped_corr_exact(spark):
    # y = 2x exactly -> corr 1; anti-correlated pair -> corr -1
    data = [("a", 1, 2), ("a", 2, 4), ("a", 3, 6), ("b", 1, 3), ("b", 2, 1)]
    df = spark.createDataFrame(data, "g string, x long, y long")
    rows = {r.g: r for r in grouped_corr_exact(df, "g", "x", "y").collect()}
    assert math.isclose(rows["a"].corr, 1.0)
    assert math.isclose(rows["a"].cov_samp, 2.0)  # cov(x,2x)=2*var(x)=2
    assert math.isclose(rows["b"].corr, -1.0)
