"""The hot workload's request path on a small Spark session: the cache
prefill misses every item, a template replay hits every item, and the
replayed result passes the benchmark's own checks.

    python3 -m pytest perfbench/tests -q
"""

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)
os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")

from perfbench import datagen, reqgen  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from det_module_spark.session import get_spark

    s = get_spark("perfbench-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


def test_prefill_misses_and_replay_hits(spark, tmp_path):
    from det_module_spark.plans.runner import Engine

    data = str(tmp_path / "data")
    datagen.write_tables(data, 0.001, 4)
    templates = reqgen.RequestGen(4).templates()
    sources = reqgen.Sources(spark, data)
    for t in templates:
        sources.register(t)
    engine = Engine(
        spark,
        str(tmp_path / "cache"),
        cell_source=sources.cell_source,
        release_source=sources.release_source,
        categories=reqgen.CATEGORIES,
    )

    prefill = engine.run_request(reqgen.union_request(templates))
    assert prefill.status == 1
    assert len(prefill.missing) == len(prefill.items) == 13  # hit ratio 0

    twin = reqgen.Twin(data)
    for tpl in templates[:2]:
        res = engine.run_request(tpl)
        assert res.status == 1
        assert len(res.items) == 6 and res.missing == []  # hit ratio 1
        rows = [tuple(r) for r in res.merged.collect()]
        assert reqgen.check_merged(tpl, list(res.merged.columns), rows, twin) is None
        assert reqgen.checksum(rows) == reqgen.stored_checksum(tpl, engine.cache.result_path)
        # a wrong value is caught by the twin
        bad = [rows[0][:-1] + (rows[0][-1] + 1,)] + rows[1:]
        assert reqgen.check_merged(tpl, list(res.merged.columns), bad, twin) is not None
