"""Binned range (interval) join.

``point BETWEEN range_start AND range_end`` joins have no native
equi-join plan in Spark — the naive formulation is a broadcast
nested-loop (cross product × filter), quadratic at scale. The standard
fix is 1-D binning, the same trick as the 2-D spatial join
(operators/spatial.py):

1. points map to ``floor(key / bin)`` — one bucket each;
2. ranges explode to every bucket they overlap (bounded fan-out when
   ``bin`` ≈ typical range length);
3. equi-join on bucket + exact refinement.

The point side — the big one — is never shuffled beyond its scan when
the range side broadcasts. Pick ``bin_size`` close to the median range
length: fan-out ≈ 2 buckets/range, candidates ≈ points sharing a
bucket.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def range_join(
    points: DataFrame,
    ranges: DataFrame,
    point_key: str,
    start_key: str,
    end_key: str,
    bin_size: int,
    inclusive_end: bool = False,
) -> DataFrame:
    """Join rows of ``points`` to every range with
    start <= point < end (or <= end when ``inclusive_end``).

    Timestamp keys (incl. TIMESTAMP_NTZ) are converted to epoch
    seconds for binning — both sides shift identically under any
    session timezone, so bucket alignment holds regardless."""

    def as_long(df: DataFrame, col: str) -> Column:
        dtype = dict(df.dtypes)[col]
        if dtype.startswith("timestamp"):
            return F.col(col).cast("timestamp").cast("long")
        return F.col(col).cast("long")

    p = points.withColumn(
        "_bin", F.floor(as_long(points, point_key) / F.lit(bin_size))
    )
    b0 = F.floor(as_long(ranges, start_key) / F.lit(bin_size))
    b1 = F.floor(as_long(ranges, end_key) / F.lit(bin_size))
    r = F.broadcast(
        ranges.withColumn("_bin", F.explode(F.sequence(b0, b1)))
    )
    joined = p.join(r, "_bin")
    upper = (
        F.col(point_key) <= F.col(end_key)
        if inclusive_end
        else F.col(point_key) < F.col(end_key)
    )
    return joined.filter(
        (F.col(point_key) >= F.col(start_key)) & upper
    ).drop("_bin")
