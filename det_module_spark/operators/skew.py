"""Skew mitigation: salted aggregation and salted broadcast joins.

AQE's skew-join handling covers sort-merge joins, but two hot spots
remain at 100 TB:

- **skewed groupBy keys** (one boundary feature covering half the
  raster; one document language dominating): ``salted_agg`` runs the
  aggregation in two stages — stage 1 groups on (key, salt) spreading
  each hot key over ``n_salts`` reducers, stage 2 combines the partial
  aggregates. Works for any algebraic aggregate (sum/count/min/max —
  anything with a combine step);
- **skewed join keys against a broadcastable side**: broadcast joins
  are already skew-immune (no shuffle of the big side); ``salted_agg``
  composes with them.

The salt is ``pmod(hash(entire row), n)`` — uniform, deterministic,
and free (no extra column materialized upstream).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class AlgebraicAgg:
    """An aggregate with an explicit combine step: stage-1 partial and
    stage-2 merge expressions."""

    out: str
    partial: Column  # applied per (key, salt) group
    merge: "Column | None" = None  # applied over partials; default sum


def salted_agg(
    df: DataFrame,
    key: str,
    aggs: list[AlgebraicAgg],
    n_salts: int = 16,
) -> DataFrame:
    """Two-stage aggregation immune to key skew.

    Stage 1 shuffles on (key, salt): a key holding 50% of all rows
    spreads over ``n_salts`` reducers instead of melting one. Stage 2
    shuffles only the tiny partial table on key.
    """
    salt = F.pmod(F.hash(F.struct(*df.columns)), F.lit(n_salts)).alias("_salt")
    partials = (
        df.withColumn("_salt", salt)
        .groupBy(key, "_salt")
        .agg(*[a.partial.alias(f"_p_{a.out}") for a in aggs])
    )
    finals = []
    for a in aggs:
        merged = (
            a.merge if a.merge is not None else F.sum(F.col(f"_p_{a.out}"))
        )
        finals.append(merged.alias(a.out))
    return partials.groupBy(key).agg(*finals)


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join immune to fact-side key skew when the dim side cannot
    broadcast: every dim row is replicated across all ``n_salts`` salt
    values and the fact side computes a deterministic uniform salt, so
    the physical join key (key, salt) spreads each hot key over
    ``n_salts`` reducers instead of melting one.

    The salt is ``pmod(hash(entire fact row), n)`` — deterministic, so
    results are reproducible (and oracle-checkable: salting never
    changes the join's OUTPUT, only its partitioning). Cost: the dim
    shuffle grows ``n_salts``×; use when dim is mid-sized (too big to
    broadcast, small enough to replicate) and AQE's skew split isn't
    available for the plan shape (e.g. shuffled hash joins, or
    pre-AQE engines).

    Only fact-preserving join types are legal: the dim side is
    REPLICATED ``n_salts``×, so a dim-preserving join (right/full)
    would emit every unmatched dim row once per salt — silently
    multiplied output."""
    normalized = how.lower().replace("_", "")
    if normalized not in (
        "inner",
        "left",
        "leftouter",
        "semi",
        "leftsemi",
        "anti",
        "leftanti",
    ):
        raise ValueError(
            f"salted_join supports fact-preserving joins only "
            f"(inner/left/semi/anti); {how!r} would duplicate "
            f"unmatched dim rows n_salts times"
        )
    salt = F.pmod(
        F.hash(F.struct(*[F.col(c) for c in fact.columns])), F.lit(n_salts)
    )
    f = fact.withColumn("_salt", salt)
    d = dim.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    return f.join(d, [key, "_salt"], how).drop("_salt")


def salted_mean(df: DataFrame, key: str, value: str, n_salts: int = 16) -> DataFrame:
    """mean = merged sum ÷ merged count — the canonical non-trivial
    combine (plain mean-of-means would be wrong)."""
    out = salted_agg(
        df,
        key,
        [
            AlgebraicAgg("_sum", F.sum(value)),
            AlgebraicAgg("_cnt", F.count(value)),
        ],
        n_salts,
    )
    return out.select(
        key, (F.col("_sum") / F.col("_cnt")).alias(f"mean_{value}")
    )
