"""CSV with the reference's exact-string NA semantics.

The reference reads extract CSVs with ``na_values=''`` and
``keep_default_na=False`` (queue/request_tools.py:645-646): ONLY the
empty string is NA — the strings 'NA', 'null', 'NaN' are data. The
matching Spark options are ``nullValue=''`` with ``emptyValue`` unset
so empty quoted strings stay empty, plus quotechar ``"``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def read_extract_csv(
    spark: SparkSession, path: str, schema: StructType | None = None
) -> DataFrame:
    reader = (
        spark.read.option("header", True)
        .option("quote", '"')
        .option("nullValue", "")
        # never let Spark treat 'NaN'/'NA' etc. as missing: only ''
        .option("nanValue", "__never_nan__")
        .option("emptyValue", "")
    )
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)
