"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry from ``__spark_entry__`` at a given sf
and compares against ``oracle_sql()`` via DuckDB: row count, sorted
column names, dtypes-compatible, and exact order-insensitive values.

Usage: python tools/check_parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def canon(df):
    """pandas frame -> sorted-rows, sorted-cols list of tuples.

    NULL canonicalization is DTYPE-AWARE (ADVICE r02): in float
    columns NULL collapses to the "NaN" token — mirroring toPandas'
    null-double representation, where the distinction is already lost
    in transit on both engines — but in non-float columns NULL maps to
    a distinct "<NULL>" sentinel so a genuine NULL-vs-'NaN'-string (or
    NULL-vs-value) divergence between Spark and the oracle is
    detected, not masked."""
    df = df[sorted(df.columns)]
    float_cols = {c for c in df.columns if df[c].dtype.kind == "f"}
    rows = []
    for row in df.itertuples(index=False):
        vals = []
        for c, v in zip(df.columns, row):
            if v is None:
                v = "NaN" if c in float_cols else "<NULL>"
            elif isinstance(v, float) and math.isnan(v):
                v = "NaN" if c in float_cols else "<NULL>"
            vals.append(v)
        rows.append(tuple(vals))
    return sorted(rows, key=lambda r: tuple(str(x) for x in r))


def dtype_kinds(df):
    """Per-column dtype *kind* map, normalized to the classes that
    matter for the driver's value hash: int (i/u), float (f), bool
    (b), datetime (M/m), other/object (O).  The driver hashes the
    pandas values verbatim, so an int64 123 vs float64 123.0 is a red
    hash even though Python equality says they match (VERDICT r03
    "What's wrong" #2) — compare kinds so local parity is at least as
    strict as the driver."""
    kindmap = {"i": "int", "u": "int", "f": "float", "b": "bool",
               "M": "datetime", "m": "datetime"}
    return {c: kindmap.get(df[c].dtype.kind, "object")
            for c in df.columns}


def main():
    import duckdb

    import __spark_entry__ as mod
    from det_module_spark.session import get_spark
    from det_module_spark.sources.tables import TABLES

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    # SF-aware oracles (e.g. the pinned HLL goldens in approx_stats)
    # key off this; the driver's own harness runs at the default sf0.01
    import os

    os.environ["SPARK_GRAFT_SF_DIR"] = sf_dir

    spark = get_spark("parity-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    # Bounded transient retry (VERDICT r09 #5): a loaded-host sweep
    # can hit the same transient worker-spawn / NIO-selector failures
    # the bench retries; one retry per query, gated on the SAME
    # signature predicate, logged so a flaky query stays visible.
    from det_module_spark.streaming.replay import (
        _is_transient_worker_failure,
    )

    retry_log: list[str] = []

    def run_spark(name, fn):
        try:
            return fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001 - one gated retry
            if not _is_transient_worker_failure(e):
                raise
            retry_log.append(f"{name}: {type(e).__name__}: {str(e)[:160]}")
            print(f"retry {name}: transient {type(e).__name__}")
            return fn(spark, sf_dir).toPandas()

    qs = mod.queries()
    oracles = mod.oracle_sql()
    # a misspelled query name used to be silently skipped, so the run
    # printed "all queries match the oracle" having checked NOTHING
    # (ROUND_NOTES harness-facts) — fail loudly instead
    unknown = sorted(only - set(qs))
    if unknown:
        print(f"unknown query names (not in queries()): {unknown}")
        sys.exit(2)
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = run_spark(name, fn)
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {e}")
            continue
        if name not in oracles:
            print(f"skip  {name}: no oracle (rows={len(sdf)})")
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {e}")
            continue

        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rows {len(sdf)} != {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"cols {sorted(sdf.columns)} != {sorted(odf.columns)}")
        if not problems:
            sk, ok = dtype_kinds(sdf), dtype_kinds(odf)
            # An all-NULL object column on one side is a representation
            # artifact, not a divergence; everything else must agree.
            bad_kinds = {
                c: (sk[c], ok[c]) for c in sk
                if sk[c] != ok[c]
                and not (sk[c] == "object" and sdf[c].isna().all())
                and not (ok[c] == "object" and odf[c].isna().all())
            }
            if bad_kinds:
                problems.append(f"dtype kinds differ: {bad_kinds}")
        if not problems:
            a, b = canon(sdf), canon(odf)
            n_bad = sum(1 for x, y in zip(a, b) if x != y)
            if n_bad:
                problems.append(f"{n_bad}/{len(a)} rows differ")
                for x, y in list(zip(a, b))[:2000]:
                    if x != y:
                        problems.append(f"  spark={x}")
                        problems.append(f"  duck ={y}")
                        break
        dt = time.time() - t0
        if problems:
            failures.append(name)
            print(f"FAIL  {name} ({dt:.1f}s): " + "; ".join(problems))
        else:
            print(f"ok    {name} ({dt:.1f}s, rows={len(sdf)})")

    print()
    if retry_log:
        print(f"{len(retry_log)} transient retries: {retry_log}")
    if failures:
        print(f"{len(failures)} FAILURES: {failures}")
        sys.exit(1)
    print("all queries match the oracle")


if __name__ == "__main__":
    main()
