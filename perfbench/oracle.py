"""Query results against ``oracle_sql()`` run by DuckDB.

The comparison is the one ``tools/check_parity.py`` makes (row count,
column names, dtype kinds, order-insensitive values), reusing its
``canon`` and ``dtype_kinds``; the Spark side arrives as collected rows
plus their schema instead of a ``toPandas()`` frame.
"""

from __future__ import annotations

import importlib.util
import os

import pandas as pd
from pyspark.sql import types as T

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _check_parity():
    path = os.path.join(ROOT, "tools", "check_parity.py")
    spec = importlib.util.spec_from_file_location("perfbench_check_parity", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def rows_to_pandas(schema: T.StructType, rows: list) -> pd.DataFrame:
    """The frame ``toPandas()`` would give for these rows, as far as
    ``dtype_kinds`` and ``canon`` can tell: floating columns stay
    float, integer columns with NULLs become float."""
    df = pd.DataFrame.from_records([tuple(r) for r in rows], columns=schema.names)
    for f in schema.fields:
        if isinstance(f.dataType, (T.FloatType, T.DoubleType)):
            df[f.name] = df[f.name].astype("float64")
    return df


class OracleCheck:
    def __init__(self, data_dir: str):
        import duckdb

        import __spark_entry__ as entry
        from det_module_spark.sources.tables import TABLES

        parity = _check_parity()
        self.canon, self.dtype_kinds = parity.canon, parity.dtype_kinds
        self.sql = entry.oracle_sql()
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(
                f"CREATE OR REPLACE VIEW {t} AS "
                f"SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        self._expected: dict[str, tuple] = {}

    def _oracle(self, name: str):
        if name not in self._expected:
            odf = self.con.execute(self.sql[name]).fetchdf()
            self._expected[name] = (odf, self.dtype_kinds(odf), self.canon(odf))
        return self._expected[name]

    def compare(self, name: str, schema: T.StructType, rows: list) -> str | None:
        """None when the result matches the oracle, else the first
        difference."""
        sdf = rows_to_pandas(schema, rows)
        odf, okinds, ocanon = self._oracle(name)
        if len(sdf) != len(odf):
            return f"{name}: rows {len(sdf)} != oracle {len(odf)}"
        if sorted(sdf.columns) != sorted(odf.columns):
            return f"{name}: columns {sorted(sdf.columns)} != {sorted(odf.columns)}"
        skinds = self.dtype_kinds(sdf)
        bad = {
            c: (skinds[c], okinds[c])
            for c in skinds
            if skinds[c] != okinds[c]
            and not (skinds[c] == "object" and sdf[c].isna().all())
            and not (okinds[c] == "object" and odf[c].isna().all())
        }
        if bad:
            return f"{name}: dtype kinds differ {bad}"
        n_bad = sum(1 for x, y in zip(self.canon(sdf), ocanon) if x != y)
        if n_bad:
            return f"{name}: {n_bad}/{len(sdf)} rows differ from the oracle"
        return None
