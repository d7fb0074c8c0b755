"""Profile one registered query: run it warm with the Spark UI
enabled and dump per-job / per-stage wall, task counts and shuffle
bytes from the UI REST API (guide §7.1 — the empirical loop, headless).

Usage: python tools/profile_query.py <query> [--sf DIR] [--warm N]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("query")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--warm", type=int, default=1)
    ap.add_argument("--conf", action="append", default=[])
    args = ap.parse_args()

    os.environ["SPARK_GRAFT_SF_DIR"] = args.sf
    import __spark_entry__ as mod
    from det_module_spark.session import get_spark
    from det_module_spark.sources.tables import TABLES, load_table

    conf = {"spark.ui.enabled": "true", **dict(kv.split("=", 1) for kv in args.conf)}
    spark = get_spark("profile-query", conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    from pyspark.sql.functions import pandas_udf as _pudf

    _warm = _pudf(lambda s: s, "long")
    spark.range(1000).select(_warm("id")).collect()
    for t in TABLES:
        load_table(spark, args.sf, t).persist().count()

    fn = mod.queries()[args.query]
    for _ in range(args.warm):
        fn(spark, args.sf).collect()

    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId

    def api(path: str):
        with urllib.request.urlopen(f"{ui}/api/v1/applications/{app_id}{path}") as r:
            return json.load(r)

    jobs_before = {j["jobId"] for j in api("/jobs")}
    t0 = time.time()
    fn(spark, args.sf).collect()
    wall = time.time() - t0

    jobs = [j for j in api("/jobs") if j["jobId"] not in jobs_before]
    stages = {s["stageId"]: s for s in api("/stages?status=complete")}
    print(f"query={args.query} wall={wall:.3f}s jobs={len(jobs)}")
    total_stage_ms = 0
    rows = []
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        sub = j.get("submissionTime", "")
        comp = j.get("completionTime", "")
        for sid in j["stageIds"]:
            s = stages.get(sid)
            if not s:
                continue
            try:
                from datetime import datetime

                fmt = "%Y-%m-%dT%H:%M:%S.%f%Z"
                dur = (
                    datetime.strptime(s["completionTime"], fmt)
                    - datetime.strptime(s["firstTaskLaunchedTime"], fmt)
                ).total_seconds() * 1000
            except Exception:
                dur = -1
            total_stage_ms += max(dur, 0)
            rows.append(
                (
                    j["jobId"],
                    sid,
                    s["numCompleteTasks"],
                    round(dur),
                    s.get("shuffleReadBytes", 0),
                    s.get("shuffleWriteBytes", 0),
                    s.get("executorRunTime", 0),
                    (s.get("name", "") or "")[:70],
                )
            )
    print(f"sum(stage wall)={total_stage_ms / 1000:.3f}s  (gap = driver/scheduling)")
    print("job stage tasks wall_ms shufR shufW execRun_ms name")
    for r in sorted(rows, key=lambda r: -r[3])[:40]:
        print(" ".join(str(x) for x in r))


if __name__ == "__main__":
    main()
