"""Invariants of the correctness window that ``queries()`` computes:
the correctness check (CORRECTNESS_r*.json) records only the first 50
registry entries, so those must be the declared changed-path queries
followed by the oldest-record drain. No round number appears
here — a new CORRECTNESS_r*.json moves the drain, not the test."""

from __future__ import annotations

import glob
import json
import re
from pathlib import Path

import __spark_entry__ as m

REPO = Path(__file__).resolve().parent.parent
WINDOW = 50


def _latest_rounds() -> dict[str, int]:
    latest: dict[str, int] = {}
    for f in glob.glob(str(REPO / "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"_r(\d+)\.json$", f).group(1))
        for q in json.load(open(f)):
            latest[q] = max(latest.get(q, 0), rnd)
    return latest


def test_driver_window_invariants():
    qs = list(m.queries())
    window, outside = qs[:WINDOW], qs[WINDOW:]
    assert len(window) == WINDOW and len(set(qs)) == len(qs)

    head = m._CHANGED_PATHS
    assert set(head) <= set(qs), "a declared changed path is not registered"
    assert window[: len(head)] == head, "window head is not the declared list"

    latest = _latest_rounds()
    key = lambda q: (latest.get(q, 0), q)  # noqa: E731 — no record sorts first
    drain = window[len(head):]
    assert drain == sorted(drain, key=key), "drain is not sorted by (round, name)"
    newest = max(latest.get(q, 0) for q in drain)
    older = [q for q in outside if latest.get(q, 0) < newest]
    assert not older, f"older correctness records left outside the window: {older}"
