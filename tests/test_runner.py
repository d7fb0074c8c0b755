"""Pipeline golden test: fixture request end-to-end through the engine
(SURVEY.md §5.2.2-3): plan expansion → cache → execute → merge →
bundle; second run does zero work; dry-run mutates nothing."""

import json
import os
import zipfile

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from det_module_spark.operators.merge import MergeItem
from det_module_spark.plans.runner import Engine, STATUS_DONE, STATUS_WAITING
from det_module_spark.sources.sinks import write_request_bundle

REQUEST = {
    "_id": "feedbeef00000000deadbeef",
    "custom_name": "golden pipeline request",
    "boundary": {"name": "nga_adm2_gadm28", "title": "Nigeria ADM2"},
    "release_data": [
        {"dataset": "aiddata_nga_v3", "filters": {"years": ["2002"]}},
        {"dataset": "worldbank_v1_4", "filters": {"donors": ["All"]}},
    ],
    "raster_data": [
        {
            "name": "udel_precip",
            "options": {"extract_types": ["mean", "categorical"]},
            "files": [{"name": "udel_precip_1998", "path": "/x.tif"}],
        }
    ],
}


@pytest.fixture()
def engine(spark, tmp_path):
    cells = spark.createDataFrame(
        [
            Row(asdf_id=i % 3, value=float(i), coverage=0.5,
                potential=float(i * 2), category="water" if i % 2 else "forest")
            for i in range(12)
        ]
    )
    locations = spark.createDataFrame(
        [
            Row(project_id="p1", lon=0.01, lat=0.01, total_commitments=100.0),
            Row(project_id="p1", lon=0.07, lat=0.01, total_commitments=100.0),
        ]
    )
    return Engine(
        spark,
        str(tmp_path / "cache"),
        cell_source=lambda item: cells,
        release_source=lambda item: locations,
        categories=["water", "forest"],
    )


def test_end_to_end_and_idempotency(engine, tmp_path):
    # dry run first: everything missing, nothing mutated
    dry = engine.run_request(REQUEST, dry_run=True)
    assert dry.status == STATUS_WAITING
    assert len(dry.items) == 6  # 2 msr + 2 release extracts + 1x1x2 raster
    assert len(dry.missing) == 6
    assert dry.merged is None

    # real run: all items execute, merge produced
    r1 = engine.run_request(REQUEST)
    assert r1.status == STATUS_DONE
    assert len(r1.missing) == 6
    merged = r1.merged
    # golden column set: release hash7 triple + worldbank sum +
    # raster mean + categorical expansion
    rel_hash7 = r1.items[0].spec_hash[:7]
    wb_hash7 = r1.items[2].spec_hash[:7]
    assert f"aiddata_nga_v3.{rel_hash7}.sum" in merged.columns
    assert f"aiddata_nga_v3.{rel_hash7}.potential" in merged.columns
    assert f"aiddata_nga_v3.{rel_hash7}.reliability" in merged.columns
    assert f"worldbank_v1_4.{wb_hash7}.sum" in merged.columns
    assert "udel_precip.1998.mean" in merged.columns
    assert "udel_precip.1998.categorical_water" in merged.columns
    assert "udel_precip.1998.categorical_forest" in merged.columns
    assert merged.columns[0] == "asdf_id"
    assert merged.count() == 3

    # second run: cache satisfies everything — zero work
    r2 = engine.run_request(REQUEST)
    assert r2.missing == []
    assert r2.status == STATUS_DONE

    # values survive the cache round-trip identically
    a = {r["asdf_id"]: r for r in r1.merged.collect()}
    b = {r["asdf_id"]: r for r in r2.merged.collect()}
    assert a == b


def test_merged_schema_matches_golden(engine):
    """The merged table Spark receives keeps the names, order and Spark
    types of the per-item results' footer schemas, on the run that
    executes the items and on the fully cached one."""
    for _ in range(2):
        r = engine.run_request(REQUEST)
        rel_hash7 = r.items[0].spec_hash[:7]
        wb_hash7 = r.items[2].spec_hash[:7]
        assert [(f.name, f.dataType) for f in r.merged.schema] == [
            ("asdf_id", T.LongType()),
            (f"aiddata_nga_v3.{rel_hash7}.sum", T.DoubleType()),
            (f"aiddata_nga_v3.{rel_hash7}.potential", T.DoubleType()),
            (f"aiddata_nga_v3.{rel_hash7}.reliability", T.DoubleType()),
            (f"worldbank_v1_4.{wb_hash7}.sum", T.DoubleType()),
            ("udel_precip.1998.mean", T.DoubleType()),
            ("udel_precip.1998.categorical_water", T.LongType()),
            ("udel_precip.1998.categorical_forest", T.LongType()),
        ]


def test_bundle_sinks(engine, tmp_path):
    r = engine.run_request(REQUEST)
    merge_items = [
        MergeItem(
            engine.cache.table(i.spec_hash), i.dataset, i.temporal, i.extract_type
        )
        for i in r.items
        if i.kind == "extract"
    ]
    out = str(tmp_path / "bundle")
    artifacts = write_request_bundle(
        REQUEST, r.merged, merge_items, out,
        catalog={"udel_precip": {"title": "UDel precipitation"}},
    )
    # K1: single CSV, header row, '' for nulls
    with open(artifacts["csv"]) as f:
        header = f.readline().strip().split(",")
    assert header[0] == "asdf_id"
    assert any(c.endswith(".reliability") for c in header)
    # K2: json round-trips
    assert json.load(open(artifacts["json"]))["_id"] == REQUEST["_id"]
    # K3: documentation lists every result column
    doc = open(artifacts["doc"]).read()
    assert "udel_precip.1998.categorical_water" in doc
    assert "UDel precipitation" in doc
    # K4: zip contains the three artifacts
    names = zipfile.ZipFile(artifacts["zip"]).namelist()
    assert {"results.csv", "request_details.json", "documentation.txt"} <= set(names)


def test_msr_surface_cached_separately(engine):
    r = engine.run_request(REQUEST)
    msr_items = [i for i in r.items if i.kind == "msr"]
    for item in msr_items:
        surf = engine.cache.get(item.spec_hash)
        assert {"cell_x", "cell_y", "sum", "potential", "reliability"} <= set(
            surf.columns
        )
        row = surf.filter((F.col("cell_x") == 0) & (F.col("cell_y") == 0)).collect()[0]
        assert row["sum"] == 50.0  # 100 split over 2 locations
        assert row["potential"] == 100.0


def test_notification_hook_received_and_complete(spark, tmp_path):
    """K8 seam (queue/request_tools.py:254-326): the engine emits
    received/complete (and error) lifecycle events through a
    transport-free callback — the reference's email sink minus SMTP."""
    cells = spark.createDataFrame(
        [Row(asdf_id=i % 3, value=float(i), coverage=0.5,
             potential=float(i * 2), category="forest")
         for i in range(6)]
    )
    events = []
    eng = Engine(
        spark,
        str(tmp_path / "cache"),
        cell_source=lambda item: cells,
        categories=["forest"],
        notify=lambda event, payload: events.append((event, payload)),
    )
    req = {
        "_id": "notify01",
        "custom_name": "notify request",
        "boundary": {"name": "b"},
        "raster_data": [
            {
                "name": "cov",
                "options": {"extract_types": ["mean"]},
                "files": [{"name": "cov_1998", "path": "/x"}],
            }
        ],
    }
    r = eng.run_request(req)
    assert r.status == STATUS_DONE
    assert [e for e, _ in events] == ["received", "complete"]
    received, complete = events[0][1], events[1][1]
    assert received["request_id"] == "notify01"
    assert received["title"] == "notify request"
    assert received["n_items"] == 1
    assert complete == {
        "request_id": "notify01", "n_items": 1,
        "n_executed": 1, "n_cached": 0,
    }
    # cached re-run still notifies, with zero executed
    events.clear()
    eng.run_request(req)
    assert [e for e, _ in events] == ["received", "complete"]
    assert events[1][1]["n_executed"] == 0
    assert events[1][1]["n_cached"] == 1
    # dry run announces receipt but never completes
    events.clear()
    eng.run_request(req, dry_run=True)
    assert [e for e, _ in events] == ["received"]
    assert events[0][1]["dry_run"] is True


def test_notification_hook_error(spark, tmp_path):
    def boom(item):
        raise RuntimeError("source unavailable")

    events = []
    eng = Engine(
        spark,
        str(tmp_path / "cache"),
        cell_source=boom,
        notify=lambda event, payload: events.append((event, payload)),
    )
    req = {
        "_id": "notify02",
        "boundary": {"name": "b"},
        "raster_data": [
            {
                "name": "cov",
                "options": {"extract_types": ["mean"]},
                "files": [{"name": "cov_1998", "path": "/x"}],
            }
        ],
    }
    r = eng.run_request(req)
    assert r.status == -2
    assert [e for e, _ in events] == ["received", "error"]
    assert "source unavailable" in events[1][1]["error"]


def test_repeated_raster_file_runs_once(spark, tmp_path):
    """A raster listing the same file twice expands to one item per
    spec hash; the merge gets one column per distinct item instead of
    failing on two identical ones."""
    cells = spark.createDataFrame(
        [Row(asdf_id=i % 3, value=float(i), coverage=0.5) for i in range(6)]
    )
    eng = Engine(spark, str(tmp_path / "cache"), cell_source=lambda item: cells)
    req = {
        "_id": "dup01",
        "boundary": {"name": "b"},
        "raster_data": [
            {
                "name": "cov",
                "options": {"extract_types": ["mean"]},
                "files": [
                    {"name": "cov_1998", "path": "/x"},
                    {"name": "cov_1998", "path": "/x"},
                    {"name": "cov_1999", "path": "/y"},
                ],
            }
        ],
    }
    r = eng.run_request(req)
    assert r.status == STATUS_DONE, r.error
    assert len(r.items) == len({i.spec_hash for i in r.items}) == 2
    assert r.merged.columns == ["asdf_id", "cov.1998.mean", "cov.1999.mean"]
    assert r.merged.count() == 3


def test_cached_request_starts_no_spark_job(engine, spark):
    """A fully cached request probes the driver-replayed manifest,
    reads each result into Arrow and merges on the driver: nothing runs
    on Spark, collecting the merged table included."""
    engine.run_request(REQUEST)
    sc = spark.sparkContext
    group = "cached-request-no-jobs"
    sc.setJobGroup(group, group)
    try:
        res = engine.run_request(REQUEST)
        rows = res.merged.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert res.missing == []
    assert res.status == STATUS_DONE and len(rows) == 3

    # one new extract type on the cached raster: that item alone runs
    req = json.loads(json.dumps(REQUEST))
    req["raster_data"][0]["options"]["extract_types"].append("max")
    res = engine.run_request(req)
    assert [(i.dataset, i.temporal, i.extract_type) for i in res.missing] == [
        ("udel_precip", "1998", "max")
    ]


def test_concurrent_cold_requests_share_items(engine, spark, tmp_path):
    """Four threads run the same cold request on one engine. Each
    computes the missing items and publishes them by rename: the first
    rename wins, the others drop their equal copies, so every request
    ends done and every artifact reads back as a sequential run's."""
    import threading

    barrier = threading.Barrier(4)
    results = [None] * 4

    def run(n):
        barrier.wait()
        results[n] = engine.run_request(REQUEST)

    threads = [threading.Thread(target=run, args=(n,)) for n in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert [(r.status, r.error) for r in results] == [(STATUS_DONE, None)] * 4

    sequential = Engine(
        spark,
        str(tmp_path / "sequential"),
        cell_source=engine.cell_source,
        release_source=engine.release_source,
        categories=engine.categories,
    )
    assert sequential.run_request(REQUEST).status == STATUS_DONE
    hashes = [i.spec_hash for i in results[0].items]
    assert engine.cache.cached(hashes) == set(hashes)
    for h in hashes:
        got, want = engine.cache.table(h), sequential.cache.table(h)
        assert got.schema.equals(want.schema, check_metadata=True), h
        rows = lambda t: sorted(tuple(r.values()) for r in t.to_pylist())  # noqa: E731
        assert rows(got) == rows(want), h
    # no publish temp directory is left behind
    results_dir = os.path.join(engine.cache.root, "results")
    assert sorted(os.listdir(results_dir)) == sorted(hashes)


def _jobs_started(spark, action) -> int:
    """Spark jobs started while ``action`` runs, in any thread: counted
    in the status store, since pool threads carry no job group. Jobs in
    a group (a streaming query's micro-batches) are left out."""
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", None)

    def jobs():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        listed = sc._jsc.sc().statusStore().jobsList(None)
        return [listed.apply(i) for i in range(listed.size())]

    before = max((j.jobId() for j in jobs()), default=-1)
    action()
    return len([j for j in jobs() if j.jobId() > before and j.jobGroup().isEmpty()])


def test_cold_request_runs_one_aggregation_per_file(spark, tmp_path):
    """k plain extract types requested on one file fuse into one
    aggregation: the cold request starts as many jobs as collecting a
    single zonal extract, and writes its artifacts without Spark."""
    from det_module_spark.operators.extract_types import zonal_extract

    cells = spark.createDataFrame(
        [Row(asdf_id=i % 3, value=float(i), coverage=0.5, potential=float(i * 2))
         for i in range(12)]
    )
    types = ["mean", "min", "max", "reliability"]
    req = {
        "_id": "fused01",
        "boundary": {"name": "b"},
        "raster_data": [
            {
                "name": "cov",
                "options": {"extract_types": types},
                "files": [{"name": "cov_1998", "path": "/x"}],
            }
        ],
    }
    eng = Engine(spark, str(tmp_path / "cache"), cell_source=lambda item: cells)
    one = _jobs_started(spark, lambda: zonal_extract(cells, "mean").toArrow())
    assert one >= 1
    res = []
    assert _jobs_started(spark, lambda: res.append(eng.run_request(req))) == one
    assert res[0].status == STATUS_DONE and len(res[0].missing) == len(types)

    # each item's artifact holds exactly its own type's fields
    for item in res[0].items:
        want = zonal_extract(cells, item.extract_type).toArrow()
        got = eng.cache.table(item.spec_hash)
        assert got.column_names == want.column_names
        assert sorted(got.to_pylist(), key=lambda r: r["asdf_id"]) == sorted(
            want.to_pylist(), key=lambda r: r["asdf_id"]
        )


def test_merge_failure_ends_in_error_status(spark, tmp_path):
    """A merge that fails ends the request in status −2 with the error
    notification, like a failed extract. ``sum`` and ``reliability`` on
    one file both name a merged column ``<ds>.<temporal>.sum``, which
    the merge rejects as a duplicate field."""
    cells = spark.createDataFrame(
        [Row(asdf_id=i % 3, value=float(i), coverage=0.5) for i in range(6)]
    )
    events = []
    eng = Engine(
        spark,
        str(tmp_path / "cache"),
        cell_source=lambda item: cells,
        notify=lambda event, payload: events.append((event, payload)),
    )
    req = {
        "_id": "mergefail01",
        "boundary": {"name": "b"},
        "raster_data": [
            {
                "name": "cov",
                "options": {"extract_types": ["sum", "reliability"]},
                "files": [{"name": "cov_1998", "path": "/x"}],
            }
        ],
    }
    r = eng.run_request(req)
    assert r.status == -2 and r.merged is None
    assert "cov.1998.sum" in r.error
    assert [e for e, _ in events] == ["received", "error"]
    assert events[1][1]["error"] == r.error
