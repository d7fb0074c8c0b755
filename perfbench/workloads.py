"""The benchmark's workloads.

``request_hot``: 4 closed-loop clients replay requests drawn by Zipf
rank from a pool of 18 templates whose items set-up computed, so every
item is a cache hit. An operation is ``Engine.run_request`` plus the
collect of the merged table.

``query_mix``: 4 closed-loop clients share one queue holding two
passes over 9 registered queries from ``__spark_entry__.queries()`` in
a fixed order, so every run does the same work (the seed varies the
tables); the window is those two passes, about 13-20 s on 4 cores, and
``--seconds`` does not change it. An operation is ``fn(spark, sf_dir)``
plus ``.collect()``.

Each workload object sets up (``setup``), hands the closed loop its
job source and runner, checks every output once the window is over
(``check``) and reads its per-layer figures off the trace (``layers``).
"""

from __future__ import annotations

import itertools
import os
import threading
import time

from perfbench import reqgen
from perfbench.harness import Op, closed_loop, dir_bytes

SF = 0.01

# every per-layer metric a traced run prints; a layer the workload does
# not reach reads 0
LAYER_METRICS = (
    "plans.expand_s",
    "plans.items_per_request",
    "plans.cache.probe_s",
    "plans.cache.read_s",
    "plans.cache.get_s",
    "plans.cache.log_files",
    "plans.cache.hit_ratio",
    "plans.cache.hit_base_items",
    "plans.cache.prefill_hit_ratio",
    "plans.cache.put_s",
    "plans.cache.bytes_per_item",
    "operators.merge.build_s",
    "operators.merge.collect_s",
    "sources.load_table_s",
    "sources.load_table_calls",
    "streaming.replay_s",
    "streaming.replay_retries",
    "query.build_s",
    "query.collect_s",
    "query.planning_ms",
    "query.iterative_s",
    "query.streaming_s",
    "query.ann_s",
    "query.relational_s",
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.executor_run_s",
    "spark.executor_cpu_s",
    "spark.shuffle_bytes",
    "spark.driver_gap_s",
    "trace.throughput_per_s",
)


class Workload:
    clients: int

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self._op_ids = itertools.count(1)

    def timed(self, seconds: float) -> tuple[list[Op], float]:
        self.deadline = time.perf_counter() + seconds
        t0 = time.perf_counter()
        return closed_loop(self.clients, self.next_job, self.traced_job, self.name_of), t0

    def traced_job(self, client: int, job):
        if self.tracer is None:
            return self.run_job(job)
        op = next(self._op_ids)
        counters = self.tracer.counters
        counters.tag(f"op{op}")
        try:
            with self.tracer.span("op", op=op):
                out, info = self.run_job(job)
        finally:
            counters.untag()
            self.tracer.attach_counters(op)
        info["op"] = op
        return out, info

    def name_of(self, job) -> str:
        return str(job)

    def warm_pass(self, jobs: list) -> float:
        """Run ``jobs`` once, untimed, from one queue the clients share;
        a failure aborts the run. Returns the seconds it took."""
        queue = list(jobs)
        lock = threading.Lock()

        def next_job(_client):
            with lock:
                return queue.pop(0) if queue else None

        t = time.perf_counter()
        ops = closed_loop(self.clients, next_job, lambda _i, job: self.run_job(job))
        failed = [o for o in ops if o.error]
        if failed:
            raise RuntimeError(f"warm pass: {failed[0].name}: {failed[0].error}")
        return time.perf_counter() - t


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def spark_layers(tracer, ops: list[Op]) -> dict:
    """Per-operation Spark counters of the operations' own job groups,
    and the driver gap: operation wall time minus summed stage time."""
    spans = {s["op"]: s for s in tracer.spans if s["name"] == "op"}
    per_op = [spans[o.info["op"]] for o in ops if o.info.get("op") in spans]
    out = {f"spark.{k}": _mean(s["spark"][k] for s in per_op) for k in
           ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "shuffle_bytes")}
    out["spark.driver_gap_s"] = _mean(
        (s["end"] - s["start"]) - s["spark"]["stage_s"] for s in per_op
    )
    return out


def window_spans(tracer, name: str) -> list[dict]:
    """Spans named ``name`` inside timed operations (set-up has none)."""
    return [s for s in tracer.spans if s["name"] == name and s["op"] is not None]


def span_mean(tracer, name: str, n_ops: int) -> float:
    """Seconds in spans named ``name`` per timed operation."""
    return sum(s["end"] - s["start"] for s in window_spans(tracer, name)) / max(1, n_ops)


# ---------------------------------------------------------------------------
# request_hot
# ---------------------------------------------------------------------------


class RequestHot(Workload):
    clients = 4

    def setup(self, stages: dict) -> None:
        from det_module_spark.plans.runner import Engine

        ctx = self.ctx
        gen = reqgen.RequestGen(ctx.seed)
        self.templates = gen.templates()
        # one seeded Zipf stream per client, longer than any window
        self.streams = [gen.zipf_ranks(len(self.templates), 10_000) for _ in range(self.clients)]
        self.pos = [0] * self.clients
        self.sources = reqgen.Sources(self.spark, ctx.data_dir)
        for t in self.templates:
            self.sources.register(t)
        self.engine = Engine(
            self.spark,
            os.path.join(ctx.work_dir, "cache"),
            cell_source=self.sources.cell_source,
            release_source=self.sources.release_source,
            categories=reqgen.CATEGORIES,
        )

        t = time.perf_counter()
        prefill = self.engine.run_request(reqgen.union_request(self.templates))
        if prefill.status != 1:
            raise RuntimeError(f"cache prefill failed: {prefill.error}")
        stages["prefill_s"] = time.perf_counter() - t
        self.prefill = prefill
        self.setup_checksums = [
            reqgen.stored_checksum(tpl, self.engine.cache.result_path)
            for tpl in self.templates
        ]

        # the hot path's first requests in a JVM run slower
        stages["warm_pass_s"] = self.warm_pass([s[0] for s in self.streams])

    def next_job(self, client: int):
        if time.perf_counter() >= self.deadline:
            return None
        k = self.streams[client][self.pos[client]]
        self.pos[client] += 1
        return k

    def name_of(self, job) -> str:
        return self.templates[job]["_id"]

    def run_job(self, k: int):
        res = self.engine.run_request(self.templates[k])
        if res.status != 1:
            raise RuntimeError(f"request status {res.status}: {res.error}")
        if self.tracer is None:
            rows = res.merged.collect()
        else:
            with self.tracer.span("operators.merge.collect"):
                rows = res.merged.collect()
        info = {"items": len(res.items), "missing": len(res.missing)}
        return (k, list(res.merged.columns), [tuple(r) for r in rows]), info

    def check(self, ops: list[Op]) -> None:
        twin = reqgen.Twin(self.ctx.data_dir)
        for op in ops:
            if op.error is not None:
                continue
            k, columns, rows = op.output
            tpl = self.templates[k]
            err = reqgen.check_merged(tpl, columns, rows, twin)
            if err is None and op.info["missing"]:
                err = f"{op.info['missing']} of {op.info['items']} items missed the cache"
            if err is None and reqgen.checksum(rows) != self.setup_checksums[k]:
                err = "checksum differs from the result set-up stored"
            op.error = err

    def layers(self, ops: list[Op]) -> dict:
        tr = self.tracer
        n = len(ops)
        items = sum(o.info.get("items", 0) for o in ops)
        hits = sum(o.info.get("items", 0) - o.info.get("missing", 0) for o in ops)
        probes = window_spans(tr, "plans.cache.probe")
        written = len(self.prefill.missing)
        put = [s for s in tr.spans if s["name"] == "plans.cache.put" and s["op"] is None]
        return {
            "plans.expand_s": span_mean(tr, "plans.expand", n),
            "plans.items_per_request": items / n,
            "plans.cache.probe_s": span_mean(tr, "plans.cache.probe", n),
            "plans.cache.read_s": span_mean(tr, "plans.cache.read", n),
            "plans.cache.get_s": span_mean(tr, "plans.cache.get", n),
            "plans.cache.log_files": _mean(s["log_files"] for s in probes),
            "plans.cache.hit_ratio": hits / items,
            "plans.cache.hit_base_items": items,
            "plans.cache.prefill_hit_ratio": 1 - written / len(self.prefill.items),
            "plans.cache.put_s": sum(s["end"] - s["start"] for s in put) / max(1, written),
            "plans.cache.bytes_per_item": dir_bytes(os.path.join(self.ctx.work_dir, "cache", "results")) / max(1, written),
            "operators.merge.build_s": span_mean(tr, "operators.merge.build", n),
            "operators.merge.collect_s": span_mean(tr, "operators.merge.collect", n),
            "sources.load_table_s": span_mean(tr, "sources.load_table", n),
            "sources.load_table_calls": len(window_spans(tr, "sources.load_table")) / n,
        }

    def instrument(self) -> None:
        """Spans around the request path's layer functions."""
        from det_module_spark.plans import runner
        from det_module_spark.plans.cache import CacheManifest
        from det_module_spark.sources import tables

        tr = self.tracer

        def open_probe(_result):
            # the probe runs from items_df until the engine's next cache
            # call (put_many or get): missing(...) and its collect
            p = tr.open("plans.cache.probe")
            p["log_files"] = len(self.engine.cache.versions())

        def close_probe(_args):
            p = tr.current("plans.cache.probe")
            if p is not None:
                tr.close(p)

        tr.wrap(runner, "expand_request", "plans.expand")
        tr.wrap(runner, "items_df", "plans.items_df", after=open_probe)
        tr.wrap(CacheManifest, "read", "plans.cache.read")
        tr.wrap(CacheManifest, "put_many", "plans.cache.put", before=close_probe)
        tr.wrap(CacheManifest, "get", "plans.cache.get", before=close_probe)
        tr.wrap(runner, "merge_extracts", "operators.merge.build")
        tr.wrap(tables, "load_table", "sources.load_table")


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------

FAMILIES = {
    "streaming": ["events_running_totals"],
    "iterative": ["bfs_reach"],
    "ann": ["dedup_minhash_lsh", "similarity_lsh_topk"],
    "relational": ["msr_pipeline", "wide_merge", "tpch_q9", "tpch_q1", "cache_anti_join"],
}
# pass order: longest first, so the slow queries do not trail a pass
QUERIES = [q for qs in FAMILIES.values() for q in qs]
PASSES = 2
FAMILY_OF = {q: f for f, qs in FAMILIES.items() for q in qs}


class QueryMix(Workload):
    clients = 4

    def setup(self, stages: dict) -> None:
        import __spark_entry__ as entry
        from det_module_spark.sources.tables import TABLES, load_table
        from det_module_spark.streaming import replay

        ctx = self.ctx
        t = time.perf_counter()
        for name in TABLES:
            load_table(self.spark, ctx.data_dir, name).persist().count()
        stages["persist_s"] = time.perf_counter() - t
        registry = entry.queries()
        self.fns = {q: registry[q] for q in QUERIES}
        self.lock = threading.Lock()

        # a first pass runs slower (code generation, Python workers, the
        # first streaming replay's state-store start)
        stages["warm_pass_s"] = self.warm_pass(QUERIES)
        self.issued = 0
        self.retries_before = len(replay.TRANSIENT_RETRY_EVENTS)

    def next_job(self, client: int):
        # a fixed amount of work, not a deadline: with a deadline the
        # number of whole passes flipped between 2 and 3 as the machine's
        # speed moved, and the pass count swung throughput by 20%
        with self.lock:
            if self.issued == PASSES * len(QUERIES):
                return None
            q = QUERIES[self.issued % len(QUERIES)]
            self.issued += 1
            return q

    def run_job(self, q: str):
        fn, sf_dir = self.fns[q], self.ctx.data_dir
        if self.tracer is None:
            df = fn(self.spark, sf_dir)
            return (q, df.schema, df.collect()), {}
        with self.tracer.span(f"query.build.{FAMILY_OF[q]}"):
            df = fn(self.spark, sf_dir)
        with self.tracer.span("query.collect"):
            rows = df.collect()
        phases = df._jdf.queryExecution().tracker().phases()
        planning_ms = 0.0
        for phase in ("analysis", "optimization", "planning"):
            got = phases.get(phase)
            if got.isDefined():
                planning_ms += got.get().durationMs()
        return (q, df.schema, rows), {"planning_ms": planning_ms}

    def check(self, ops: list[Op]) -> None:
        from perfbench import oracle

        check = oracle.OracleCheck(self.ctx.data_dir)
        for op in ops:
            if op.error is None:
                q, schema, rows = op.output
                op.error = check.compare(q, schema, rows)

    def layers(self, ops: list[Op]) -> dict:
        from det_module_spark.streaming import replay

        tr = self.tracer
        n = len(ops)
        replays = window_spans(tr, "streaming.replay")
        # outermost replay spans only: replay_* helpers call replay_stream
        nested = {s["id"] for s in replays}
        replays = [s for s in replays if s["parent"] not in nested]
        out = {
            "query.build_s": sum(span_mean(tr, f"query.build.{f}", n) for f in FAMILIES),
            "query.collect_s": span_mean(tr, "query.collect", n),
            "query.planning_ms": _mean(o.info.get("planning_ms", 0.0) for o in ops),
            "streaming.replay_s": sum(s["end"] - s["start"] for s in replays) / n,
            "streaming.replay_retries": len(replay.TRANSIENT_RETRY_EVENTS) - self.retries_before,
            "sources.load_table_s": span_mean(tr, "sources.load_table", n),
            "sources.load_table_calls": len(window_spans(tr, "sources.load_table")) / n,
        }
        for fam in FAMILIES:
            out[f"query.{fam}_s"] = sum(
                o.seconds for o in ops if FAMILY_OF[o.name] == fam
            ) / n
        return out

    def instrument(self) -> None:
        from det_module_spark.sources import tables
        from det_module_spark.streaming import replay

        tr = self.tracer
        for name in dir(replay):
            if name.startswith("replay_") and callable(getattr(replay, name)):
                tr.wrap(replay, name, "streaming.replay")
        tr.wrap(tables, "load_table", "sources.load_table")


WORKLOADS = {"request_hot": RequestHot, "query_mix": QueryMix}

