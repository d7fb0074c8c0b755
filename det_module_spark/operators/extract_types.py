"""The zonal-statistics aggregate vocabulary — the engine's core operator.

The reference declares the extract-type registry as a dict of
name -> one-letter abbreviation (reference: queue/extract_check.py:27-52;
active types at :28-39, commented roadmap types at :37-51) and hard-errors
on unknown types (:54-57). Semantics per type are documented in
queue/templates/field_names.txt and SURVEY.md §2.4.

Here every type is a *native Spark Column aggregate* so the whole zonal
pipeline stays inside Tungsten whole-stage codegen — no Python in the hot
path. The physical shape is one hash aggregation: map-side partial
aggregation then a single shuffle on the group key. At 100 TB the group
key (``asdf_id``) has bounded cardinality (#boundary features), so the
reduce side is small regardless of input size; skewed features are
handled by AQE skew-join/partial aggregation.

Output columns follow the reference's extract CSV contract
(queue/extract_check.py:92-98, FIXTURES.md §5): value columns are named
``exfield_*`` — a single ``exfield_0`` for scalar types, one
``exfield_<category>`` per category for ``categorical``, and the triple
``exfield_sum / exfield_potential / exfield_reliability`` for
``reliability`` (queue/documentation_tool.py:253-256,
templates/field_names.txt:15-22).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


@dataclass(frozen=True)
class ExtractType:
    """One entry of the extract-type registry."""

    name: str
    abbr: str
    active: bool  # active in the reference vs commented "roadmap"
    # builds {output_field_suffix: aggregate Column}; None for the
    # two-phase types (categorical / majority / minority) which have
    # dedicated plans below.
    aggregates: Callable[[Column, Column, Column], dict[str, Column]] | None = None
    two_phase: bool = False


def _single(agg: Callable[[Column, Column, Column], Column]):
    def build(value: Column, weight: Column, potential: Column) -> dict[str, Column]:
        return {"exfield_0": agg(value, weight, potential)}

    return build


def _reliability(value: Column, weight: Column, potential: Column) -> dict[str, Column]:
    # sum / potential / reliability triple; reliability = sum ÷ potential
    # (templates/field_names.txt:20-22).
    s = F.sum(value)
    p = F.sum(potential)
    return {
        "exfield_sum": s,
        "exfield_potential": p,
        "exfield_reliability": s / p,
    }


EXTRACT_TYPES: dict[str, ExtractType] = {
    t.name: t
    for t in [
        # --- active in the reference (extract_check.py:28-39) ---
        ExtractType("categorical", "c", True, two_phase=True),
        ExtractType(
            "weighted_mean", "E", True,
            _single(lambda v, w, p: F.sum(v * w) / F.sum(w)),
        ),
        ExtractType("weighted_count", "N", True, _single(lambda v, w, p: F.sum(w))),
        ExtractType("weighted_sum", "S", True, _single(lambda v, w, p: F.sum(v * w))),
        ExtractType("mean", "e", True, _single(lambda v, w, p: F.avg(v))),
        ExtractType("count", "n", True, _single(lambda v, w, p: F.count(v))),
        ExtractType("sum", "s", True, _single(lambda v, w, p: F.sum(v))),
        ExtractType("min", "m", True, _single(lambda v, w, p: F.min(v))),
        ExtractType("max", "x", True, _single(lambda v, w, p: F.max(v))),
        ExtractType("reliability", "r", True, _reliability),
        # --- roadmap types, commented in the reference (extract_check.py:37-51) ---
        ExtractType("std", "d", False, _single(lambda v, w, p: F.stddev_samp(v))),
        ExtractType("median", "M", False, _single(lambda v, w, p: F.median(v))),
        ExtractType("majority", "J", False, two_phase=True),
        ExtractType("minority", "j", False, two_phase=True),
        ExtractType(
            "unique", "u", False, _single(lambda v, w, p: F.count_distinct(v))
        ),
        ExtractType(
            "range", "R", False, _single(lambda v, w, p: F.max(v) - F.min(v))
        ),
        ExtractType("var", "v", False, _single(lambda v, w, p: F.var_samp(v))),
        # 'mode' is an alias of majority in the reference roadmap
        ExtractType("mode", "O", False, two_phase=True),
        # --- engine extensions: sketch-based scale variants. At 100 TB
        # an exact distinct count of a high-cardinality column shuffles
        # every distinct value; HLL/KLL sketches are mergeable
        # fixed-size state. No DuckDB oracle (different sketches) —
        # verified against the exact types within tolerance in tests.
        ExtractType(
            "approx_unique", "U", False,
            _single(lambda v, w, p: F.approx_count_distinct(v)),
        ),
        ExtractType(
            "approx_median", "D", False,
            _single(lambda v, w, p: F.percentile_approx(v, F.lit(0.5), F.lit(10000))),
        ),
    ]
}

_PERCENTILE_RE = re.compile(r"^percentile_(\d{1,2})$")


def validate_extract_type(name: str) -> str:
    """Plan-time enum validation — unknown types are a hard error
    (reference parity: queue/extract_check.py:54-57).
    """
    if name in EXTRACT_TYPES or _PERCENTILE_RE.match(name):
        return name
    raise ValueError(f"invalid extract type: {name!r}")


def extract_abbr(name: str) -> str:
    """One-letter abbreviation (queue/extract_check.py:28-39)."""
    validate_extract_type(name)
    if name in EXTRACT_TYPES:
        return EXTRACT_TYPES[name].abbr
    return "p"  # percentile_NN family


def fusable(extract_type: str) -> bool:
    """True for the types that are plain aggregates over the cells —
    every registry entry that is not ``two_phase``, and
    ``percentile_NN`` — so any number of them fuse into one
    ``zonal_aggregate`` pass. The two-phase types (categorical,
    majority, minority, mode) keep their own plans."""
    validate_extract_type(extract_type)
    if _PERCENTILE_RE.match(extract_type):
        return True
    return not EXTRACT_TYPES[extract_type].two_phase


def unfuse(columns: list[str], extract_type: str) -> list[tuple[str, str]]:
    """``(column, field)`` pairs of one type's columns in a
    ``zonal_aggregate`` result: column ``<type>:<field>`` holds the
    type's ``<field>`` (``exfield_0``, or the reliability triple)."""
    prefix = f"{extract_type}:"
    return [(c, c[len(prefix):]) for c in columns if c.startswith(prefix)]


def zonal_aggregate(
    cells: DataFrame,
    extract_types: list[str],
    key: str = "asdf_id",
    value: str = "value",
    weight: str = "coverage",
    potential: str = "potential",
) -> DataFrame:
    """Every fusable type in ONE ``groupBy(key).agg(...)``: k types
    over one cell table scan it once, not k times. Each type's fields
    are named ``<type>:<field>`` (split them with ``unfuse``)."""
    v, w = F.col(value), F.col(weight)
    p = F.col(potential) if potential in cells.columns else F.lit(None)
    aggs = []
    for t in dict.fromkeys(extract_types):
        if not fusable(t):
            raise ValueError(f"{t!r} has its own plan: use zonal_extract")
        m = _PERCENTILE_RE.match(t)
        if m:
            fields = {"exfield_0": F.percentile(v, F.lit(int(m.group(1)) / 100.0))}
        else:
            fields = EXTRACT_TYPES[t].aggregates(v, w, p)
        aggs += [c.alias(f"{t}:{n}") for n, c in fields.items()]
    return cells.groupBy(key).agg(*aggs)


def zonal_extract(
    cells: DataFrame,
    extract_type: str,
    key: str = "asdf_id",
    value: str = "value",
    weight: str = "coverage",
    potential: str = "potential",
    category: str = "category",
    categories: list[str] | None = None,
) -> DataFrame:
    """Group cells by boundary feature and aggregate — the zonal statistic.

    ``cells`` is the long-form raster-cell table already joined to
    boundary features (SURVEY.md J2): one row per (feature, cell) with
    the cell ``value``, pixel ``coverage`` fraction for weighted types,
    and ``potential`` for the reliability triple.

    Returns one row per ``key`` with ``exfield_*`` value columns, per the
    extract CSV contract (queue/extract_check.py:92-98). A fusable type
    is the one-type case of ``zonal_aggregate``.
    """
    if fusable(extract_type):
        out = zonal_aggregate(cells, [extract_type], key, value, weight, potential)
        return out.select(
            key, *[F.col(f"`{c}`").alias(f) for c, f in unfuse(out.columns, extract_type)]
        )
    if extract_type == "categorical":
        return _categorical(cells, key, category, categories)
    return _frequency_extreme(cells, key, value, most=extract_type != "minority")


def _categorical(
    cells: DataFrame, key: str, category: str, categories: list[str] | None
) -> DataFrame:
    """Per-category cell counts, one output column per category
    (templates/field_names.txt:25-33). Passing an explicit category list
    keeps the schema static (no extra distinct-scan job) — required at
    100 TB where the pivot-discovery pass would rescan the fact table.
    Missing (feature, category) pairs are zero-filled, matching a count
    of zero cells.
    """
    pivoted = (
        cells.groupBy(key)
        .pivot(category, values=categories)
        .count()
    )
    cat_cols = [c for c in pivoted.columns if c != key]
    return pivoted.select(
        key,
        *[
            F.coalesce(F.col(f"`{c}`"), F.lit(0)).alias(f"exfield_{c}")
            for c in cat_cols
        ],
    )


def _frequency_extreme(
    cells: DataFrame, key: str, value: str, most: bool
) -> DataFrame:
    """majority / minority: most / least frequent value per feature.

    Two-phase: count per (key, value) — partial-aggregated map-side —
    then a rank-1 window over the tiny per-key count table. Ties break
    deterministically on the smaller value, so results are stable across
    partitionings (needed for the oracle gate and for reproducible runs
    at any cluster size).
    """
    counts = (
        cells.filter(F.col(value).isNotNull())  # nodata cells don't vote
        .groupBy(key, value)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    order = (
        [F.desc("cnt"), F.asc(value)] if most else [F.asc("cnt"), F.asc(value)]
    )
    w = Window.partitionBy(key).orderBy(*order)
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(key, F.col(value).alias("exfield_0"))
    )
