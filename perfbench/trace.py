"""Spans around the engine's layer functions, recorded from outside.

``Tracer.wrap`` replaces a public function (or method) with a wrapper
that records a span, and rebinds every alias of it that the engine's
modules imported by name, so calls through ``from x import f`` are
seen too. ``unwrap_all`` puts the originals back.

Spans live in memory: name, start, end, parent span, operation id and
the Spark jobs that started inside them (the operation's thread carries
the job group ``op<id>``). ``write`` dumps them with each layer's self
time: its spans' duration minus the part covered by child spans.
"""

from __future__ import annotations

import functools
import itertools
import json
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from perfbench.harness import SparkCounters

ENGINE_MODULES = ("det_module_spark", "__spark_entry__", "perfbench")


class Tracer:
    def __init__(self, counters: SparkCounters):
        self.counters = counters
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self._job_totals: dict[int, dict] = {}

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str, op: int | None = None) -> dict:
        stack = self._stack()
        parent = stack[-1] if stack else None
        if op is None and parent is not None:
            op = parent["op"]
        span = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op,
            "start": time.perf_counter(),
            "end": None,
            "jobs_before": self._group_jobs(op),
        }
        stack.append(span)
        return span

    def close(self, span: dict) -> None:
        stack = self._stack()
        while stack[-1] is not span:  # children left open by an error
            self.close(stack[-1])
        span["end"] = time.perf_counter()
        stack.pop()
        before = span.pop("jobs_before")
        span["jobs"] = sorted(set(self._group_jobs(span["op"])) - set(before))
        with self._lock:
            self.spans.append(span)

    def _group_jobs(self, op: int | None) -> list[int]:
        return self.counters.job_ids(f"op{op}") if op is not None else []

    @contextmanager
    def span(self, name: str, op: int | None = None):
        s = self.open(name, op)
        try:
            yield s
        finally:
            self.close(s)

    def current(self, name: str) -> dict | None:
        stack = self._stack()
        return stack[-1] if stack and stack[-1]["name"] == name else None

    # -- patching -------------------------------------------------------

    def wrap(self, owner, attr: str, name: str, before=None, after=None) -> None:
        """Record a span named ``name`` around ``owner.attr``.
        ``before(args)`` and ``after(result)`` run just outside it."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if before is not None:
                before(args)
            with tracer.span(name):
                out = orig(*args, **kwargs)
            if after is not None:
                after(out)
            return out

        self._set(owner, attr, wrapper)
        for mod_name, mod in list(sys.modules.items()):
            if mod is owner or not mod_name.startswith(ENGINE_MODULES):
                continue
            for key, value in list(vars(mod).items()):
                if value is orig:
                    self._set(mod, key, wrapper)

    def _set(self, owner, attr: str, value) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- read-out ---------------------------------------------------------

    def attach_counters(self, op: int) -> None:
        """Sum Spark counters into every closed span of ``op``. Run it
        right after the operation: the status store keeps a bounded
        number of stages."""
        for s in self.spans:
            if s["op"] != op or "spark" in s:
                continue
            total = dict.fromkeys(SparkCounters.KEYS, 0.0)
            for j in s["jobs"]:
                if j not in self._job_totals:
                    self._job_totals[j] = self.counters.totals([j])
                for k, v in self._job_totals[j].items():
                    total[k] += v
            s["spark"] = total

    def self_times(self) -> dict[str, float]:
        """Seconds per layer name spent in its own spans and not in
        their children."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += (s["end"] - s["start"]) - child_time[s["id"]]
        return dict(sorted(out.items()))

    def write(self, path: str, meta: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0}
            for s in sorted(self.spans, key=lambda s: s["start"])
        ]
        with open(path, "w") as f:
            json.dump(
                {"meta": meta, "self_time_s": self.self_times(), "spans": spans},
                f,
                indent=1,
            )
