"""Semi-structured (JSON) shredding: schema-on-read over string columns.

The reference's request documents are deeply nested BSON mutated with
dotted paths (queue/request_tools.py:157-158, 386-390); its data plane
never parses JSON at scale. A training-data pipeline does constantly —
crawl metadata, API event payloads, tool logs all arrive as JSON
strings beside the payload.

Scale design: ``from_json`` with an EXPLICIT schema is a single
JVM-side expression — no Python, no UDF, wholly inside codegen; the
parse runs inside the scan stage so only the projected fields survive
into downstream shuffles. Schema-less alternatives
(``get_json_object`` per field) re-parse the string once per field —
fine for one field, quadratic waste for many. ``shred_json`` therefore
parses ONCE into a struct and fans fields out of that.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def shred_json(
    df: DataFrame,
    json_col: str,
    schema: str,
    prefix: str = "",
    keep: bool = False,
) -> DataFrame:
    """Parse ``json_col`` with the DDL ``schema`` (e.g. ``"k LONG,
    tag STRING"``) and promote every top-level field to a column
    (optionally ``prefix``-ed). Malformed rows yield NULL fields
    (PERMISSIVE), never a task failure."""
    parsed = df.withColumn("__j", F.from_json(F.col(json_col), schema))
    field_names = parsed.schema["__j"].dataType.fieldNames()
    out = parsed.select(
        "*",
        *[
            F.col(f"__j.{name}").alias(f"{prefix}{name}")
            for name in field_names
        ],
    ).drop("__j")
    return out if keep else out.drop(json_col)


def kv_records(
    df: DataFrame,
    col: str,
    pair_sep: str = ",",
    kv_sep: str = "=",
) -> DataFrame:
    """Explode delimited key=value records ("a=1,b=2") into one row
    per pair — the log-parsing primitive. Malformed parts (no
    separator) are skipped; only the FIRST ``kv_sep`` splits, so
    values may contain it. Pure Column expressions (split + explode +
    substring math), so the whole plan stays in whole-stage codegen.

    Output: input columns + (k, v).
    """
    import re

    # F.split treats the separator as a REGEX: escape it so literal
    # separators like '|' or '.' split literally (ADVICE r03). The
    # k/v extraction is pure Column functions (instr takes a literal
    # string, substr takes Columns) — no string-formatted SQL, so a
    # quote in kv_sep cannot break the expression.
    part = F.explode(
        F.split(F.col(col), F.lit(re.escape(pair_sep)), F.lit(-1))
    ).alias("_part")
    pos = F.instr(F.col("_part"), kv_sep)
    exploded = df.select("*", part).filter(pos > 0)
    return exploded.select(
        *df.columns,
        F.substr(F.col("_part"), F.lit(1), pos - 1).alias("k"),
        F.substr(F.col("_part"), pos + len(kv_sep)).alias("v"),
    )


def json_key_profile(df: DataFrame, json_col: str) -> DataFrame:
    """Schema inference over a corpus of FLAT JSON objects: per key
    and inferred value type → (key, vtype, n, example) where vtype ∈
    {null, bool, int, float, string, other} and example is the
    lexicographic MIN of the raw value text (deterministic).

    The pre-ingestion profiling step for a semi-structured feed:
    which keys exist, how often, with which (possibly conflicting)
    types — conflicts are exactly the rows where one key appears
    under more than one vtype.

    Pure codegen: one regexp_extract_all + explode (work ∝ payload
    bytes, no Python), one hash agg. Nested objects/arrays land in
    ``other`` by design; shred those with ``shred_json`` once the
    profile says they matter.
    """
    pair_re = r'"([^"]+)"\s*:\s*("(?:[^"\\]|\\.)*"|[^,}]+)'
    m = df.select(
        F.explode(
            F.regexp_extract_all(F.col(json_col), F.lit(pair_re), F.lit(0))
        ).alias("m")
    )
    key = F.regexp_extract(F.col("m"), r'^"([^"]+)"', 1)
    val = F.trim(F.regexp_extract(F.col("m"), r":\s*(.*)$", 1))
    vtype = (
        F.when(val == "null", "null")
        .when((val == "true") | (val == "false"), "bool")
        .when(val.rlike(r"^-?[0-9]+$"), "int")
        .when(val.rlike(r"^-?[0-9]*\.[0-9]+([eE][+-]?[0-9]+)?$"), "float")
        .when(val.startswith('"'), "string")
        .otherwise("other")
    )
    return (
        m.select(key.alias("key"), vtype.alias("vtype"), val.alias("val"))
        .groupBy("key", "vtype")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("val").alias("example"),
        )
    )
