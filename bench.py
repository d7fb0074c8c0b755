"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE compact JSON line as the FINAL stdout line:

    {"metric": "workload_wall_seconds", "value": <concurrent wall>,
     "unit": "sec", "sf": ..., "streams": ..., "n_queries": ...,
     "seq_sum_seconds": <sequential power-run sum>,
     "queries": {<10 slowest, sequential seconds>}}

Two timed passes over the same workload:

1. *Power run* (sequential, one query at a time): per-query timings are
   clean — no contention — and their sum (``seq_sum_seconds``) is the
   classic single-stream metric, comparable across rounds.
2. *Throughput run* ($SPARK_GRAFT_BENCH_STREAMS concurrent streams,
   default 12, TPC-style): ``value`` is the wall-clock of the whole
   workload. One-at-a-time tiny queries leave a 32-core executor ~95%
   idle — sequential totals measure scheduler latency, not engine
   throughput. Every query is independent and side-effect-free, so the
   streams share the session and cache safely.

   The concurrent pass is made reproducible (VERDICT r02 #5): stream
   packing is deterministic — LPT (longest-processing-time greedy)
   over the sequential pass's measured per-query seconds when that
   pass ran, else a FIXED hash of the query name — never
   work-stealing. The pass is repeated $SPARK_GRAFT_BENCH_REPEATS
   times (default 4) with the first repeat discarded as warm-up. The
   reported concurrent wall is the MEDIAN of the timed repeats;
   per-query p50/p95 across repeats land in ``BENCH_FULL.json``.

The final JSON line is kept under ~1 KB (the driver captures a bounded
stdout tail): only the 10 slowest queries appear inline. The FULL
per-query timing map for both passes is written to ``BENCH_FULL.json``
next to this script and echoed per-query on stderr.

Set SPARK_GRAFT_BENCH_MODE=seq|concurrent to run only one pass
(default ``both``).
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor


sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _replay_retry_events() -> list[str]:
    """The streaming replay harness's transient worker-spawn retry
    audit trail (empty when the module was never imported)."""
    mod = sys.modules.get("det_module_spark.streaming.replay")
    return list(getattr(mod, "TRANSIENT_RETRY_EVENTS", []))


def _sidecar_name(sf: float, mode: str, nocache: bool, cpus: str) -> str:
    """BENCH_FULL.json is the committed record of the HEADLINE run: sf0.1,
    both passes, cached tables, the default 32 cores. Any other run
    writes a name that says how it differs, so it never overwrites that
    record: a smoke run at another SF (it clobbered the record twice in
    r6), a mode-limited run (a concurrent-only run records zeroed
    sequential timings — r7), a cold-scan run, or another core count."""
    if sf == 0.1 and mode == "both" and not nocache:
        stem = "BENCH_FULL"
    else:
        stem = (
            f"BENCH_FULL_sf{sf}{'' if mode == 'both' else '_' + mode}"
            f"{'_nocache' if nocache else ''}"
        )
    return f"{stem}{'' if cpus == '32' else '_c' + cpus}.json"


def main() -> None:
    import __spark_entry__ as entry_mod
    from det_module_spark.session import get_spark
    from det_module_spark.sources.tables import TABLES, load_table

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    streams = int(os.environ.get("SPARK_GRAFT_BENCH_STREAMS", "12"))
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "4"))
    mode = os.environ.get("SPARK_GRAFT_BENCH_MODE", "both")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    spark = get_spark("det-module-spark-bench")
    # Bench-tail hygiene (VERDICT r05 #7): the driver records only a
    # ~2 KB stdout tail — one stray WARN class (e.g. the benign
    # bounded-frame WindowExec notes) can displace every per-query
    # timing line. ERROR-only for the bench session; real failures
    # still surface through exceptions and the exit code.
    spark.sparkContext.setLogLevel("ERROR")
    # untimed warmup: JVM/codegen/Arrow initialization shouldn't be
    # attributed to whichever query happens to run first
    spark.range(1000).selectExpr("sum(id)").collect()
    # ... including the Python-worker/Arrow lane: daemon + worker
    # startup for the Pandas-UDF path costs seconds and would
    # otherwise land on the first UDF query in registry order
    from pyspark.sql.functions import pandas_udf as _pudf

    _warm = _pudf(lambda s: s, "long")
    spark.range(1000).select(_warm("id")).collect()
    # ... and the Structured-Streaming + RocksDB + TWS lane: the first
    # streaming query in a JVM pays ~6-8s of micro-batch machinery,
    # state-store library, and TWS driver-worker startup that is
    # engine initialization, not query compute. One minimal 1-batch
    # replay warms all of it, untimed (gated: never fail the bench).
    try:
        from pyspark.sql import functions as _F

        from det_module_spark.streaming.replay import (
            replay_running_totals as _rrt,
        )

        _tiny = spark.range(4).select(
            (_F.col("id") % 2).alias("batch"),
            _F.lit("w").alias("k"),
            _F.col("id").cast("double").alias("v"),
        )
        _rrt(_tiny, "batch", "k", "v").collect()
    except Exception as e:  # noqa: BLE001 - warmup must never gate
        print(f"# streaming warmup skipped: {e}", file=sys.stderr)

    # storage-cache the hot tables and materialize them in the warmup:
    # a 150-query workload over ten tables re-scans each many times;
    # caching is the standard warehouse answer, and buffer-pool warmup
    # is untimed in every standard benchmark harness (per-query numbers
    # should measure steady-state query compute, not first-touch I/O).
    # SPARK_GRAFT_BENCH_NOCACHE=1 (VERDICT r10 #7) skips the persist so
    # a sequential pass exercises the COLD parquet scan path per query
    # (pushdown/pruning regressions become measurable); it writes a
    # "_nocache"-suffixed sidecar and must never replace the committed
    # cached-pass record.
    nocache = os.environ.get("SPARK_GRAFT_BENCH_NOCACHE", "0") == "1"
    if not nocache:
        for t in TABLES:
            load_table(spark, sf_dir, t).persist().count()

    qs = entry_mod.queries()

    # Per-query bounded retry (VERDICT r08 #1): the round-8 driver
    # bench died rc=1 because ONE transient "Python worker failed to
    # connect back" in a TWS streaming replay propagated straight out
    # of the executor. One retry per (query, invocation), gated on
    # the SAME transient-signature predicate replay_stream uses
    # (ADVICE r9: a broad retry could let a nondeterministic real
    # regression pass on its second attempt); every retry is counted
    # here and recorded in the sidecar + final line. A deterministic
    # or non-transient failure propagates immediately.
    from det_module_spark.streaming.replay import (
        _is_transient_worker_failure,
    )

    retries: dict[str, int] = {}

    def run_one(
        label: str, timings: dict, item: tuple[str, object], d: str = sf_dir
    ) -> None:
        name, fn = item
        t0 = time.time()
        try:
            n = len(fn(spark, d).collect())
        except Exception as e:  # noqa: BLE001 - one bounded retry
            if not _is_transient_worker_failure(e):
                raise
            retries[name] = retries.get(name, 0) + 1
            print(
                f"# [{label}] {name}: retry after "
                f"{type(e).__name__}: {str(e)[:160]}",
                file=sys.stderr,
            )
            t0 = time.time()
            n = len(fn(spark, d).collect())
        dt = time.time() - t0
        timings[name] = round(dt, 3)
        print(f"# [{label}] {name}: {dt:.3f}s rows={n}", file=sys.stderr)

    def run_seq(label: str, d: str = sf_dir) -> tuple[float, dict[str, float]]:
        timings: dict[str, float] = {}
        t0 = time.time()
        for item in qs.items():
            run_one(label, timings, item, d)
        return time.time() - t0, timings

    # Deterministic stream packing. Baseline: each query goes to the
    # stream named by a hash of its NAME (stable across runs/machines).
    # Work-stealing (ex.map over a shared queue) packs differently each
    # run, which made the concurrent wall contention-lottery noisy.
    # When the sequential pass ran first (mode=both), upgrade to LPT
    # (longest-processing-time greedy) over the measured per-query
    # seconds: still deterministic (ties broken by name), and it
    # removes the 2x stream imbalance hash packing leaves on a
    # heavy-tailed workload — the wall tracks the true critical path.
    def stream_of(name: str) -> int:
        return int.from_bytes(hashlib.sha1(name.encode()).digest()[:4], "big") % streams

    def build_plan(seq_timings: dict[str, float]) -> tuple[list, dict]:
        plan: list[list[tuple[str, object]]] = [[] for _ in range(streams)]
        assignment: dict[str, int] = {}
        if seq_timings:
            loads = [0.0] * streams
            order = sorted(
                qs.items(), key=lambda it: (-seq_timings.get(it[0], 0.0), it[0])
            )
            for item in order:
                s = min(range(streams), key=lambda i: (loads[i], i))
                loads[s] += seq_timings.get(item[0], 0.0)
                plan[s].append(item)
                assignment[item[0]] = s
        else:
            for item in qs.items():
                s = stream_of(item[0])
                plan[s].append(item)
                assignment[item[0]] = s
        return plan, assignment

    def run_concurrent(label: str, plan: list) -> tuple[float, dict[str, float]]:
        timings: dict[str, float] = {}

        def run_stream(stream_items: list) -> None:
            for item in stream_items:
                run_one(label, timings, item)

        t0 = time.time()
        with ThreadPoolExecutor(max_workers=streams) as ex:
            list(ex.map(run_stream, plan))
        return time.time() - t0, timings

    seq_wall, seq_timings = (0.0, {})
    conc_wall, conc_timings = (0.0, {})
    conc_walls: list[float] = []
    conc_samples: dict[str, list[float]] = {}
    if mode in ("both", "seq"):
        seq_wall, seq_timings = run_seq("seq")
    plan, assignment = build_plan(seq_timings)
    if mode in ("both", "concurrent"):
        # repeat the concurrent pass; first repeat is untimed warm-up
        # (plan compilation / codegen for all queries), remaining
        # repeats give a median wall + per-query p50/p95
        for rep in range(max(1, repeats)):
            wall, timings = run_concurrent(f"x{streams}r{rep}", plan)
            if rep == 0 and repeats > 1:
                continue
            conc_walls.append(wall)
            for k, v in timings.items():
                conc_samples.setdefault(k, []).append(v)
        conc_wall = statistics.median(conc_walls)
        conc_timings = {k: round(statistics.median(v), 3) for k, v in conc_samples.items()}

    # Scaling-slope pass (VERDICT r04 #8): one extra sequential pass
    # at a SECOND scale factor so the per-query scaling ratio is
    # visible round-over-round. ratio = t(main)/t(lo); with sf0.1 vs
    # sf0.01 the data ratio is 10x, so ratio >> 10 flags superlinear
    # growth while ratio ~= 1 means the query is fixed-cost-bound at
    # these sizes. Runs only in mode=both, is disable-able, and can
    # never fail the bench.
    slope: dict[str, dict] = {}
    slope_dir = os.environ.get("SPARK_GRAFT_BENCH_SLOPE_DIR") or (
        sf_dir.replace("sf0.1", "sf0.01")
        if sf_dir.rstrip("/").endswith("sf0.1")
        else ""
    )
    if (
        mode == "both"
        and os.environ.get("SPARK_GRAFT_BENCH_SLOPE", "1") != "0"
        and slope_dir
        and slope_dir != sf_dir
        and os.path.isdir(slope_dir)
        and seq_timings
    ):
        try:
            m2 = re.search(r"sf([0-9.]+)", slope_dir)
            sf_lo = float(m2.group(1)) if m2 else -1.0
            data_ratio = sf / sf_lo if sf_lo > 0 else float("nan")
            for t in TABLES:
                load_table(spark, slope_dir, t).persist().count()
            _, lo_timings = run_seq("slope", slope_dir)
            for name, hi in seq_timings.items():
                lo = lo_timings.get(name)
                if lo:
                    slope[name] = {
                        "lo": lo,
                        "hi": hi,
                        "ratio": round(hi / lo, 2),
                    }
            for t in TABLES:
                load_table(spark, slope_dir, t).unpersist()
            superlinear = sorted(
                n
                for n, v in slope.items()
                # fixed-cost floor: sub-second-at-lo queries measure
                # overhead, not scaling; flag only real growth past
                # the data ratio
                if v["ratio"] > data_ratio * 1.2 and v["lo"] >= 0.3
            )
            slope["__meta__"] = {
                "lo_sf": sf_lo,
                "hi_sf": sf,
                "data_ratio": round(data_ratio, 2),
                "superlinear": superlinear,
            }
        except Exception as e:  # noqa: BLE001 - slope must never gate
            print(f"# slope pass skipped: {e}", file=sys.stderr)

    # Third-scale-point slope (VERDICT r05 #5): tools/slope3.py writes
    # SLOPE3.json (watchlist queries at 3x the bench SF). Fold it into
    # the sidecar + final line so the measurement survives bench reruns.
    slope3 = {}
    slope3_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "SLOPE3.json"
    )
    if os.path.exists(slope3_path):
        try:
            with open(slope3_path) as f:
                slope3 = json.load(f)
        except Exception as e:  # noqa: BLE001 - diagnostic, never gates
            print(f"# SLOPE3.json unreadable: {e}", file=sys.stderr)

    # full per-query detail goes to a sidecar, never to the final line.
    sidecar_name = _sidecar_name(
        sf, mode, nocache, os.environ.get("SPARK_GRAFT_CPUS", "32")
    )
    sidecar = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), sidecar_name
    )
    with open(sidecar, "w") as f:
        json.dump(
            {
                "sf": sf,
                "streams": streams,
                "repeats": repeats,
                "sequential_wall_seconds": round(seq_wall, 3),
                "concurrent_wall_seconds": round(conc_wall, 3),
                # median = the headline (robust to one bad repeat);
                # MIN = the cross-round comparator — on a host whose
                # background load swings walls ±25% on identical code
                # (observed r3/r6/r7), min-of-samples is the least
                # load-contaminated estimate of machine capability.
                # Compare rounds on concurrent_wall_min_seconds.
                "concurrent_wall_min_seconds": (
                    round(min(conc_walls), 3) if conc_walls else 0.0
                ),
                "concurrent_wall_samples": [round(w, 3) for w in conc_walls],
                "sequential_query_seconds": seq_timings,
                "concurrent_query_seconds": conc_timings,
                "concurrent_query_p50": {
                    k: round(statistics.median(v), 3) for k, v in sorted(conc_samples.items())
                },
                "concurrent_query_p95": {
                    k: round(max(v), 3) for k, v in sorted(conc_samples.items())
                },
                "stream_assignment": assignment,
                "scaling_slope": slope,
                "scaling_slope3": slope3,
                # audit trail for the bounded retries: per-query retry
                # counts (bench level) + the replay harness's own
                # transient worker-spawn retries with messages
                "retries": retries,
                "replay_transient_retries": _replay_retry_events(),
            },
            f,
            indent=1,
            sort_keys=True,
        )

    base = seq_timings or conc_timings
    slowest = dict(sorted(base.items(), key=lambda kv: -kv[1])[:10])
    wall = conc_wall if mode in ("both", "concurrent") else seq_wall
    summary = {
        "metric": "workload_wall_seconds",
        "value": round(wall, 3),
        "unit": "sec",
        "sf": sf,
        "streams": streams if mode != "seq" else 1,
        "n_queries": len(base),
        "seq_sum_seconds": round(sum(seq_timings.values()), 3),
        "seq_wall_seconds": round(seq_wall, 3),
        "concurrent_wall_seconds": round(conc_wall, 3),
        "concurrent_wall_min_seconds": (
            round(min(conc_walls), 3) if conc_walls else 0.0
        ),
        "queries": slowest,
        "queries_full": sidecar_name,
    }
    if slope:
        meta = slope.get("__meta__", {})
        summary["slope_lo_sf"] = meta.get("lo_sf")
        summary["superlinear"] = meta.get("superlinear", [])
    if slope3:
        summary["slope3"] = {
            n: v.get("slope") for n, v in slope3.get("queries", {}).items()
        }
        summary["slope3_superlinear"] = slope3.get("superlinear", [])
    total_retries = sum(retries.values()) + len(_replay_retry_events())
    if total_retries:
        summary["retries_total"] = total_retries
        summary["retries"] = dict(sorted(retries.items())[:5])
    line = json.dumps(summary)
    # hard guarantee: the driver keeps a bounded stdout tail; stay small
    while len(line) > 1500 and summary["queries"]:
        summary["queries"] = dict(list(summary["queries"].items())[:-1])
        line = json.dumps(summary)
    print(line)


if __name__ == "__main__":
    main()
