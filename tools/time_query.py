"""Isolated per-query timing harness (guide §1.1/§1.4): times one or
more registered queries with the noop sink so the computation — not
the sink or pandas conversion — is what's measured, under the SAME
warm-table conditions as bench.py (tables persisted + counted before
timing). Prints per-query seconds over N repeats (min/median).

Usage:
    python tools/time_query.py [--repeats N] [--sf DIR] [--collect] q1 q2 ...

``--collect`` times ``len(df.collect())`` instead (bench.py's timed
action) for apples-to-apples comparison with BENCH_FULL.json numbers.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--collect", action="store_true")
    ap.add_argument(
        "--conf",
        action="append",
        default=[],
        help="extra spark conf k=v applied at session build (experiments)",
    )
    args = ap.parse_args()

    os.environ["SPARK_GRAFT_SF_DIR"] = args.sf
    import __spark_entry__ as mod
    from det_module_spark.session import get_spark
    from det_module_spark.sources.tables import TABLES, load_table

    spark = get_spark("time-query", conf=dict(kv.split("=", 1) for kv in args.conf))
    spark.sparkContext.setLogLevel("ERROR")
    # same warmup as bench.py: JVM/codegen/Arrow + table persistence
    spark.range(1000).selectExpr("sum(id)").collect()
    from pyspark.sql.functions import pandas_udf as _pudf

    _warm = _pudf(lambda s: s, "long")
    spark.range(1000).select(_warm("id")).collect()
    for t in TABLES:
        load_table(spark, args.sf, t).persist().count()

    qs = mod.queries()
    unknown = [q for q in args.queries if q not in qs]
    if unknown:
        print(f"unknown queries: {unknown}")
        sys.exit(2)

    for name in args.queries:
        fn = qs[name]
        times = []
        for rep in range(args.repeats):
            spark.sparkContext.setJobDescription(f"{name} rep{rep}")
            t0 = time.time()
            df = fn(spark, args.sf)
            if args.collect:
                n = len(df.collect())
            else:
                df.write.format("noop").mode("overwrite").save()
                n = -1
            times.append(time.time() - t0)
        spark.sparkContext.setJobDescription(None)
        print(
            f"{name}: min={min(times):.3f}s "
            f"median={statistics.median(times):.3f}s "
            f"all={[round(t, 3) for t in times]}"
            + (f" rows={n}" if n >= 0 else "")
        )


if __name__ == "__main__":
    main()
