"""Statistics, failure accounting and generator determinism (no Spark).

    python3 -m pytest perfbench/tests -q
"""

import hashlib
import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import datagen, reqgen  # noqa: E402
from perfbench.harness import TAIL_BEYOND, Op, closed_loop, summarize, tail_latency  # noqa: E402
from perfbench.workloads import LAYER_METRICS, WORKLOADS  # noqa: E402


def test_tail_leaves_ten_samples_beyond():
    for n in (11, 20, 37, 100):
        lat = [float(i) for i in range(n)]
        value, pct = tail_latency(lat[::-1])
        assert sum(1 for x in lat if x > value) == TAIL_BEYOND
        assert pct == pytest.approx(100.0 * (n - TAIL_BEYOND) / n)
    assert tail_latency([float(i) for i in range(100)]) == (89.0, 90.0)


def test_tail_needs_more_than_ten_samples():
    with pytest.raises(ValueError):
        tail_latency([1.0] * TAIL_BEYOND)


def test_failures_count_against_throughput_and_latency():
    t0 = 100.0
    ops = [Op(0, f"q{i}", t0 + i, t0 + i + 1.0) for i in range(12)]
    ops[3].error = "RuntimeError: boom"
    ops[7].error = "check: wrong rows"
    s = summarize(ops, t0)
    assert (s["attempted"], s["failed"]) == (12, 2)
    assert s["error_rate"] == pytest.approx(2 / 12)
    assert s["window_s"] == pytest.approx(12.0)
    assert s["throughput_per_s"] == pytest.approx(10 / 12.0)
    assert s["latency_p50_s"] == pytest.approx(1.0)
    # a failed op counts as taking the whole window: 8 of 12 failed
    for i in range(7):
        ops[i].error = "x"
    s = summarize(ops, t0)
    assert s["failed"] == 8
    assert s["latency_p50_s"] == pytest.approx(12.0)
    assert s["throughput_per_s"] == pytest.approx(4 / 12.0)


def test_closed_loop_records_exceptions_and_stops():
    jobs = {0: [1, 2, 3], 1: [4, 5]}

    def run(client, job):
        if job == 4:
            raise ValueError("bad job")
        return job * 10, {"client": client}

    ops = closed_loop(2, lambda i: jobs[i].pop(0) if jobs[i] else None, run)
    assert sorted(o.name for o in ops) == ["1", "2", "3", "4", "5"]
    failed = [o for o in ops if o.error]
    assert len(failed) == 1 and failed[0].error.startswith("ValueError: bad job")
    assert all(o.output == int(o.name) * 10 for o in ops if not o.error)


def test_templates_are_seeded_distinct_and_valid():
    a, b = reqgen.RequestGen(5).templates(), reqgen.RequestGen(5).templates()
    assert json.dumps(a) == json.dumps(b)
    assert json.dumps(a) != json.dumps(reqgen.RequestGen(6).templates())
    keys = {json.dumps([t["release_data"], t["raster_data"]], sort_keys=True) for t in a}
    assert len(keys) == len(a) == 18
    for t in a:
        names = [f["name"] for r in t["raster_data"] for f in r["files"]]
        assert len(names) == len(set(names)), "a repeated file duplicates items"
        cols = reqgen.expected_columns(t)
        assert len(cols) == len(set(cols))


def test_union_request_holds_each_item_once():
    tpls = reqgen.RequestGen(1).templates()
    union = reqgen.union_request(tpls)
    want = {e.spec_hash for t in tpls for e in reqgen.expected_items(t)}
    got = [e.spec_hash for e in reqgen.expected_items(union)]
    assert len(got) == len(set(got)) and set(got) == want


def test_spec_hashes_match_the_engine():
    from det_module_spark.plans.planner import expand_request

    tpl = reqgen.RequestGen(2).templates()[0]
    engine_items = expand_request(tpl)
    assert len(engine_items) == 6
    assert len(expand_request(reqgen.union_request(reqgen.RequestGen(2).templates()))) == 13
    extract = [i.spec_hash for i in engine_items if i.kind == "extract"]
    assert extract == [e.spec_hash for e in reqgen.expected_items(tpl)]
    msr = [i.spec_hash for i in engine_items if i.kind == "msr"]
    rel = tpl["release_data"][0]
    assert msr == [reqgen.msr_hash(rel["dataset"], rel["filters"])]


def test_zipf_draw_is_seeded_and_skewed():
    ranks = reqgen.RequestGen(3).zipf_ranks(18, 2000)
    assert ranks == reqgen.RequestGen(3).zipf_ranks(18, 2000)
    assert ranks.count(0) > ranks.count(17) * 5


def _digest(d):
    return {f: hashlib.sha1(open(os.path.join(d, f), "rb").read()).hexdigest() for f in sorted(os.listdir(d))}


def test_tables_are_a_function_of_the_seed(tmp_path):
    rows = datagen.write_tables(str(tmp_path / "a"), 0.001, 9)
    datagen.write_tables(str(tmp_path / "b"), 0.001, 9)
    datagen.write_tables(str(tmp_path / "c"), 0.001, 10)
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")
    assert rows["lineitem"] == 4 * rows["orders"] and rows["documents"] == 500


def test_benchmark_json_names_what_run_prints():
    from perfbench import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert [m["name"] for m in spec["per_layer"]] == list(LAYER_METRICS)
    assert all(m["unit"] == run.layer_unit(m["name"]) for m in spec["per_layer"])
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
