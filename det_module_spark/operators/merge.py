"""Wide-merge of per-item extract results + the column naming algebra.

Reference behavior (queue/request_tools.py:617-708): N extract result
tables for the *same boundary* (so the same ``asdf_id`` domain) are
merged into one wide table. The first table contributes the passthrough
boundary attributes; every table contributes its ``exfield_*`` value
columns renamed by the three-case algebra:

1. categorical items → ``<result_field>_<category>``
   (request_tools.py:670-673);
2. reliability items or ``worldbank_*`` datasets →
   ``<dataset>.<hash7>.<method>`` — the middle (filter) part truncated
   to 7 chars, method taken from the exfield suffix
   (request_tools.py:675-681);
3. everything else → ``<result_field>`` verbatim, i.e.
   ``<dataset>.<temporal>.<method>`` (request_tools.py:683).

where ``result_field`` is the item's file stem
``{dataset}.{temporal-or-hash}.{extract_type}``
(request_tools.py:659; extract_check.py:92-98).

Column order: ``asdf_id``, extract columns in merge-list order, then
passthrough attributes (request_tools.py:630, 690-695).

The reference aligns rows *positionally* (same CSV row order); this
engine replaces that with an explicit FULL OUTER equi-join on
``asdf_id`` — the declared-unique key (templates/column_info.txt:2) —
so per-item missing features surface as nulls instead of silently
misaligning. Like the reference, the merge runs on one machine: every
input is one row per boundary feature, so the join is an Arrow hash
join on the driver and the rows come back sorted by key.
"""

from __future__ import annotations

from dataclasses import dataclass

import pyarrow as pa


@dataclass(frozen=True)
class MergeItem:
    """One extract result to merge: its Arrow table plus the file-stem
    identity ``{dataset}.{filter}.{extract_type}`` used for naming."""

    table: pa.Table
    dataset: str
    temporal: str  # temporal label, or spec hash for release/MSR items
    extract_type: str

    @property
    def result_field(self) -> str:
        # file stem, reference request_tools.py:659
        return f"{self.dataset}.{self.temporal}.{self.extract_type}"


def renamed_exfields(item: MergeItem) -> list[tuple[str, str]]:
    """[(exfield column, merged output name)] per the 3-case algebra."""
    exfields = [c for c in item.table.column_names if c.startswith("exfield_")]
    out: list[tuple[str, str]] = []
    for c in exfields:
        suffix = c[len("exfield_") :]
        if item.result_field.endswith("categorical"):
            name = f"{item.result_field}_{suffix}"
        elif item.result_field.endswith("reliability") or item.result_field.startswith(
            "worldbank_"
        ):
            parts = item.result_field.split(".")
            name = f"{parts[0]}.{parts[1][0:7]}.{suffix}"
        else:
            name = item.result_field
        out.append((c, name))
    return out


def merge_extracts(items: list[MergeItem], key: str = "asdf_id") -> pa.Table:
    """Multi-way FULL OUTER equi-join merge on ``key`` (SURVEY.md J1),
    rows sorted by key.

    First item supplies passthrough attributes; all items supply renamed
    exfields.
    """
    if not items:
        raise ValueError("nothing to merge")

    passthrough = [
        c
        for c in items[0].table.column_names
        if not c.startswith("exfield_") and c != key
    ]
    field_list: list[str] = [key]
    merged: pa.Table | None = None
    for i, item in enumerate(items):
        pairs = renamed_exfields(item)
        extra = passthrough if i == 0 else []
        side = item.table.select([key] + [c for c, _ in pairs] + extra).rename_columns(
            [key] + [n for _, n in pairs] + extra
        )
        merged = (
            side
            if merged is None
            else merged.join(side, key, join_type="full outer", coalesce_keys=True)
        )
        field_list.extend(n for _, n in pairs)
    # key + extract cols (merge order) + passthrough
    # (request_tools.py:690-695 — ordered union-distinct)
    return merged.select(field_list + passthrough).sort_by(key)
