"""MSR allocation, grid-bucketed spatial join, and cache idempotency."""

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from det_module_spark.operators.extract_types import zonal_extract
from det_module_spark.operators.msr import (
    apply_release_filters,
    even_split_allocation,
    msr_surface,
)
from det_module_spark.operators.spatial import spatial_join_rect
from det_module_spark.plans.cache import CacheManifest
from det_module_spark.streaming.cache_sink import stream_to_cache


@pytest.fixture(scope="module")
def locations(spark):
    rows = [
        # project A: 100.0 over 2 locations, 2002-2004
        Row(project_id="A", lon=0.01, lat=0.01, donors="France",
            ad_sector_names="Education", start_year=2002, end_year=2004,
            total_commitments=100.0),
        Row(project_id="A", lon=0.07, lat=0.01, donors="France",
            ad_sector_names="Education", start_year=2002, end_year=2004,
            total_commitments=100.0),
        # project B: 90.0 over 3 locations, 1999-2001
        Row(project_id="B", lon=0.01, lat=0.01, donors="Japan",
            ad_sector_names="Health", start_year=1999, end_year=2001,
            total_commitments=90.0),
        Row(project_id="B", lon=0.07, lat=0.07, donors="Japan",
            ad_sector_names="Health", start_year=1999, end_year=2001,
            total_commitments=90.0),
        Row(project_id="B", lon=0.12, lat=0.01, donors="Japan",
            ad_sector_names="Health", start_year=1999, end_year=2001,
            total_commitments=90.0),
    ]
    return spark.createDataFrame(rows)


def test_even_split_allocation(locations):
    alloc = even_split_allocation(locations)
    rows = alloc.collect()
    by_project = {}
    for r in rows:
        by_project.setdefault(r["project_id"], []).append(r)
    assert all(math.isclose(r["allocated"], 50.0) for r in by_project["A"])
    assert all(math.isclose(r["allocated"], 30.0) for r in by_project["B"])
    assert all(r["potential"] == r["total_commitments"] for r in rows)


def test_msr_surface_triple(locations):
    surface = msr_surface(even_split_allocation(locations))
    cells = {(r["cell_x"], r["cell_y"]): r for r in surface.collect()}
    # lon 0.01 -> cell 0; lon 0.07 -> cell 1; lon 0.12 -> cell 2 at res 0.05
    assert set(cells) == {(0, 0), (1, 0), (1, 1), (2, 0)}
    c00 = cells[(0, 0)]
    assert math.isclose(c00["sum"], 50.0 + 30.0)
    assert math.isclose(c00["potential"], 100.0 + 90.0)
    assert math.isclose(c00["reliability"], 80.0 / 190.0)


def test_year_overlap_filter(locations):
    # interval overlap semantics (templates/aid_data.txt:5)
    assert apply_release_filters(locations, years=(2001, 2002)).count() == 5
    assert apply_release_filters(locations, years=(2005, 2010)).count() == 0
    assert apply_release_filters(locations, donors=["France"]).count() == 2
    assert (
        apply_release_filters(locations, commitments=(95.0, 200.0)).count() == 2
    )


def test_spatial_join_rect(spark):
    points = spark.createDataFrame(
        [Row(pid=i, lon=x, lat=y) for i, (x, y) in enumerate(
            [(0.5, 0.5), (1.5, 0.5), (2.5, 2.5), (9.9, 9.9), (10.1, 0.5)]
        )]
    )
    # two rectangles tiling [0,2)x[0,10) and [2,10)x[0,10)
    bounds = spark.createDataFrame(
        [
            Row(asdf_id=1, minx=0.0, miny=0.0, maxx=2.0, maxy=10.0),
            Row(asdf_id=2, minx=2.0, miny=0.0, maxx=10.0, maxy=10.0),
        ]
    )
    joined = spatial_join_rect(points, bounds, bucket_size=1.0)
    got = {(r["pid"], r["asdf_id"]) for r in joined.collect()}
    # every in-bounds point assigned exactly once; 10.1 is outside
    assert got == {(0, 1), (1, 1), (2, 2), (3, 2)}


def test_cache_round_trip_and_idempotency(spark, tmp_path):
    cache = CacheManifest(spark, str(tmp_path / "cache"))
    items = ["h1", "h2"]
    # empty manifest: everything is missing
    assert len(set(items) - cache.cached(items)) == 2
    result = spark.createDataFrame([Row(asdf_id=1, exfield_0=4.2)])
    cache.put("h1", "extract", result)
    # second pass: only h2 missing; h1 readable and complete
    missing = [h for h in items if h not in cache.cached(items)]
    assert missing == ["h2"]
    assert len(cache.cached(items)) == 1
    assert cache.get("h1").collect()[0]["exfield_0"] == 4.2
    # re-put is idempotent (reference: find-then-update-else-insert,
    # extract_check.py:165-183)
    cache.put("h1", "extract", result)
    assert len(set(items) - cache.cached(items)) == 1
    assert cache.read().filter(F.col("spec_hash") == "h1").count() == 1


def test_get_schema_matches_spark_inference(spark, locations, tmp_path):
    """get() reads each artifact with the schema in its parquet footer;
    the DataFrame must match Spark's own inference, nullability
    included, for every artifact shape the engine writes."""
    cache = CacheManifest(spark, str(tmp_path / "cache"))
    cells = spark.createDataFrame(
        [
            Row(asdf_id=i % 3, value=float(i), coverage=0.5,
                potential=float(i * 2), category="water" if i % 2 else "forest")
            for i in range(12)
        ]
    )
    empty = spark.createDataFrame(
        [],
        T.StructType(
            [T.StructField("asdf_id", T.LongType(), False),
             T.StructField("exfield_0", T.DoubleType(), True)]
        ),
    )
    cache.put_many(
        [
            ("rel", "extract", zonal_extract(cells, "reliability")),
            ("cat", "extract",
             zonal_extract(cells, "categorical", categories=["water", "forest"])),
            ("msr", "msr", msr_surface(even_split_allocation(locations))),
            ("empty", "extract", empty),
        ]
    )
    src = str(tmp_path / "stream_src")
    spark.createDataFrame(
        [("s1", 1, 1.5), ("s1", 2, 2.5), ("s2", 1, 9.0)],
        "spec_hash string, asdf_id long, exfield_0 double",
    ).write.parquet(src)
    q = stream_to_cache(
        spark.readStream.schema("spec_hash string, asdf_id long, exfield_0 double")
        .parquet(src),
        cache,
        checkpoint=str(tmp_path / "ck"),
    )
    q.processAllAvailable()
    q.stop()

    hashes = ["rel", "cat", "msr", "empty", "s1", "s2"]
    assert cache.cached(hashes) == set(hashes)
    assert len(cache.get("rel").columns) > 2  # several exfields
    for h in hashes:
        # StructField equality covers name, type, nullability, metadata
        inferred = spark.read.parquet(cache.result_path(h)).schema
        assert cache.get(h).schema == inferred, h
    assert cache.get("empty").count() == 0


def test_cache_concurrent_put_many_no_lost_rows(spark, tmp_path):
    """VERDICT r01 #5 'done' bar: two threads commit disjoint hash
    batches through the transaction log; every row survives (the old
    rewrite-in-place manifest could drop a concurrent batch)."""
    import threading

    cache = CacheManifest(spark, str(tmp_path / "cache"))
    result = spark.createDataFrame([Row(asdf_id=1, exfield_0=1.0)])
    errors = []

    def writer(prefix):
        try:
            # many small batches to force version-claim interleaving
            for i in range(10):
                cache.put_many([(f"{prefix}{i}", "extract", result)])
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [
        threading.Thread(target=writer, args=(p,)) for p in ("a", "b")
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    want = {f"{p}{i}" for p in ("a", "b") for i in range(10)}
    got = cache.cached(want)
    assert got == want
    # every commit claimed a distinct version; log replay is stable
    assert cache.read().count() == 20


def test_cache_log_compaction(spark, tmp_path):
    cache = CacheManifest(spark, str(tmp_path / "cache"))
    result = spark.createDataFrame([Row(asdf_id=1, exfield_0=1.0)])
    for i in range(5):
        cache.put(f"h{i}", "extract", result)
    # re-put h0 so the log has a superseded row
    cache.put("h0", "extract", result)
    hashes = {f"h{i}" for i in range(10)}
    before = cache.cached(hashes)
    assert len(cache._versions()) == 6
    cache.compact()
    assert len(cache._versions()) == 1
    after = cache.cached(hashes)
    assert after == before == {f"h{i}" for i in range(5)}
    # writes keep working after compaction
    cache.put("h9", "extract", result)
    assert cache.read().count() == 6


def test_compact_cas_rejects_stale_snapshot(spark, tmp_path):
    """The compact CAS primitive: a snapshot may only land as
    snapshot_max+1; if a concurrent commit took that version the
    claim returns None instead of silently reverting it (ADVICE r02:
    the old read-then-append assigned the stale snapshot an ever-
    higher version, erasing any commit that landed in between)."""
    cache = CacheManifest(spark, str(tmp_path / "cache"))
    row = lambda h, p: (h, "extract", 1, True, p, 0)  # noqa: E731
    cache._commit([row("h0", "p0")])  # version 0
    snap_max = cache._versions()[-1]
    stale = [row("h0", "p0")]
    # concurrent writer lands AFTER the snapshot: updates h0
    cache._commit([row("h0", "p0-new")])  # version 1
    assert cache._commit(stale, require_version=snap_max + 1) is None
    got = {r["spec_hash"]: r["path"] for r in cache.read().collect()}
    assert got == {"h0": "p0-new"}


def test_compact_retries_over_concurrent_commit(spark, tmp_path):
    """End-to-end: a commit that lands between compact's snapshot and
    its claim survives — compact retries with a fresh snapshot that
    includes it."""
    cache = CacheManifest(spark, str(tmp_path / "cache"))
    row = lambda h, p: (h, "extract", 1, True, p, 0)  # noqa: E731
    cache._commit([row("h0", "p0")])
    cache._commit([row("h1", "p1")])

    real_commit = CacheManifest._commit
    fired = {"done": False}

    def racing_commit(self, rows, require_version=None):
        # first CAS attempt: inject a concurrent writer after the
        # snapshot was taken, so the pinned version is already claimed
        if require_version is not None and not fired["done"]:
            fired["done"] = True
            racer = CacheManifest(spark, self.root)
            real_commit(racer, [row("h0", "p0-racer")])
        return real_commit(self, rows, require_version)

    cache._commit = racing_commit.__get__(cache)
    cache.compact()
    got = {r["spec_hash"]: r["path"] for r in cache.read().collect()}
    # the racer's update is in the final state, not reverted
    assert got == {"h0": "p0-racer", "h1": "p1"}
    assert len(cache._versions()) == 1


def test_concurrent_compact_vs_put_no_lost_update(spark, tmp_path):
    """Stress the full concurrency story (VERDICT r03 #7): writer
    threads committing upserts WHILE another thread compacts in a
    loop. Every committed row must survive into the final state (no
    lost update), and concurrent reads racing the compaction must
    never throw on a vanished log file or observe a partial state."""
    import threading

    cache = CacheManifest(spark, str(tmp_path / "cache"))
    row = lambda h: (h, "extract", 1, True, f"p-{h}", 0)  # noqa: E731
    cache._commit([row("seed")])
    errors = []
    n_writers, n_each = 4, 8

    def writer(w):
        try:
            for i in range(n_each):
                cache._commit([row(f"w{w}-{i}")])
        except Exception as e:  # noqa: BLE001 — collected for assert
            errors.append(("writer", e))

    def compactor():
        try:
            for i in range(6):
                # alternate checkpoint (non-destructive fold) with
                # compact (destructive) so reads race BOTH paths
                if i % 2 == 0:
                    cache.checkpoint()
                cache.compact()
        except Exception as e:  # noqa: BLE001 — collected for assert
            errors.append(("compact", e))

    def reader():
        try:
            for _ in range(10):
                got = cache.cached({"seed"})
                assert "seed" in got  # never a partial/empty state
        except Exception as e:  # noqa: BLE001 — collected for assert
            errors.append(("reader", e))

    threads = (
        [threading.Thread(target=writer, args=(w,)) for w in range(n_writers)]
        + [threading.Thread(target=compactor), threading.Thread(target=reader)]
    )
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    got = {r["spec_hash"] for r in cache.read().collect()}
    want = {"seed"} | {
        f"w{w}-{i}" for w in range(n_writers) for i in range(n_each)
    }
    assert got == want  # nothing lost to a compaction race
    # a final compact folds everything into one commit
    cache.compact()
    assert len(cache._versions()) == 1
    assert {r["spec_hash"] for r in cache.read().collect()} == want


def test_vacuum_reclaims_orphans_with_retention(spark, tmp_path):
    """vacuum() removes result dirs no manifest row references —
    put_many's crash-safe write-then-commit ordering can leave them —
    but NEVER inside the retention window (a live put_many may have
    written-but-not-yet-committed them)."""
    import os
    import time

    cache = CacheManifest(spark, str(tmp_path / "cache"))
    result = spark.createDataFrame([Row(asdf_id=1, exfield_0=1.0)])
    cache.put("live", "extract", result)
    # simulate a crashed batch: artifact on disk, no manifest row
    orphan = cache.result_path("crashed")
    result.write.mode("overwrite").parquet(orphan)
    assert os.path.isdir(orphan)
    # inside the retention window: protected
    assert cache.vacuum(retention_s=3600) == []
    assert os.path.isdir(orphan)
    # age it out (rewind mtime), dry-run first, then reclaim
    old = time.time() - 100
    os.utime(orphan, (old, old))
    assert cache.vacuum(retention_s=10, dry_run=True) == [orphan]
    assert os.path.isdir(orphan)
    assert cache.vacuum(retention_s=10) == [orphan]
    assert not os.path.isdir(orphan)
    # the referenced artifact survives regardless of age
    live = cache.result_path("live")
    os.utime(live, (old, old))
    assert cache.vacuum(retention_s=10) == []
    assert cache.get("live").count() == 1


def test_checkpoint_preserves_time_travel(spark, tmp_path):
    """checkpoint() folds state through version V into _ckpt/V WITHOUT
    deleting commits: reads replay checkpoint + tail, and time travel
    to ANY version still works (the property compact() gives up)."""
    cache = CacheManifest(spark, str(tmp_path / "cache"))
    row = lambda h, p: (h, "extract", 1, True, p, 0)  # noqa: E731
    cache._commit([row("h0", "p0")])  # v0
    cache._commit([row("h1", "p1")])  # v1
    cache._commit([row("h0", "p0b")])  # v2 supersedes h0
    v = cache.checkpoint()
    assert v == 2 and cache._ckpt_versions() == [2]
    # commits all still present — history intact
    assert cache._versions() == [0, 1, 2]
    cache._commit([row("h2", "p2")])  # v3, tail above the checkpoint
    got = {r["spec_hash"]: r["path"] for r in cache.read().collect()}
    assert got == {"h0": "p0b", "h1": "p1", "h2": "p2"}
    # time travel BELOW the checkpoint replays raw commits
    past = {
        r["spec_hash"]: r["path"]
        for r in cache.read(as_of_version=1).collect()
    }
    assert past == {"h0": "p0", "h1": "p1"}
    # time travel AT the checkpoint uses it
    at = {
        r["spec_hash"]: r["path"]
        for r in cache.read(as_of_version=2).collect()
    }
    assert at == {"h0": "p0b", "h1": "p1"}
    # checkpointing the same max version again is a no-op dedupe
    assert cache.checkpoint() == 3
    assert cache._ckpt_versions() == [2, 3]


def test_manifest_diff_between_versions(spark, tmp_path):
    """diff(v_from, v_to): added vs changed rows between two
    time-travel points, stable even when a checkpoint accelerates the
    newer read."""
    cache = CacheManifest(spark, str(tmp_path / "cache"))
    row = lambda h, p: (h, "extract", 1, True, p, 0)  # noqa: E731
    cache._commit([row("h0", "p0")])  # v0
    cache._commit([row("h1", "p1")])  # v1
    cache._commit([row("h0", "p0b")])  # v2: h0 changed
    cache._commit([row("h2", "p2")])  # v3: h2 added
    cache.checkpoint()
    got = {
        r["spec_hash"]: (r["change"], r["path_from"], r["path_to"])
        for r in cache.diff(1).collect()
    }
    assert got == {
        "h0": ("changed", "p0", "p0b"),
        "h2": ("added", None, "p2"),
    }
    # an interval with no changes diffs empty
    assert cache.diff(3).count() == 0
    # and a bounded interval
    mid = {
        r["spec_hash"]: r["change"] for r in cache.diff(0, 2).collect()
    }
    assert mid == {"h0": "changed", "h1": "added"}


def test_checkpoint_composes_with_compact(spark, tmp_path):
    """After compact() deletes commits below the fold, reads from an
    older checkpoint still converge: the fold commit in the tail
    carries the full state."""
    cache = CacheManifest(spark, str(tmp_path / "cache"))
    row = lambda h, p: (h, "extract", 1, True, p, 0)  # noqa: E731
    for i in range(4):
        cache._commit([row(f"h{i}", f"p{i}")])
    assert cache.checkpoint() == 3
    cache._commit([row("h4", "p4")])
    cache.compact()  # folds 0..4 into 5, deletes 0..4
    assert cache._versions() == [5]
    got = {r["spec_hash"] for r in cache.read().collect()}
    assert got == {f"h{i}" for i in range(5)}
    # and a fresh checkpoint at the fold version works
    assert cache.checkpoint() == 5


def test_read_retries_when_compact_deletes_a_listed_commit(spark, tmp_path):
    """A commit file is listed, then deleted by a concurrent compact()
    before the replay reads it: opening it raises FileNotFoundError,
    the replay re-lists, and read() returns the complete folded state
    from the compact's fold commit — never a partial one."""
    root = str(tmp_path / "cache")
    cache = CacheManifest(spark, root)
    row = lambda h, p: (h, "extract", 1, True, p, 0)  # noqa: E731
    for i in range(3):
        cache._commit([row(f"h{i}", f"p{i}")])
    cache._commit([row("h0", "p0b")])  # v3 supersedes h0

    listings = []
    real_versions = CacheManifest._versions

    def racing_versions(self):
        listed = real_versions(self)
        listings.append(listed)
        if len(listings) == 1:
            # between the listing and the read: fold 0..3 into 4 and
            # delete 0..3 (a separate instance, so unpatched)
            CacheManifest(spark, root).compact()
        return listed

    cache._versions = racing_versions.__get__(cache)
    got = {r["spec_hash"]: r["path"] for r in cache.read().collect()}
    assert got == {"h0": "p0b", "h1": "p1", "h2": "p2"}
    assert listings == [[0, 1, 2, 3], [4]]


def test_manifest_time_travel(spark, tmp_path):
    """read(as_of_version=v) reproduces each historical state exactly:
    commits are immutable once claimed."""
    cache = CacheManifest(spark, str(tmp_path / "cache"))
    r1 = spark.createDataFrame([Row(asdf_id=1, exfield_0=1.0)])
    cache.put("h1", "extract", r1)
    v0 = cache.versions()[-1]
    cache.put("h2", "extract", r1)
    v1 = cache.versions()[-1]
    cache.put("h1", "extract", r1)  # h1 re-put: newer row wins later
    v2 = cache.versions()[-1]
    assert v0 < v1 < v2

    def state(v=None):
        return sorted(
            r["spec_hash"] for r in cache.read(as_of_version=v).collect()
        )

    assert state(v0) == ["h1"]
    assert state(v1) == ["h1", "h2"]
    assert state(v2) == ["h1", "h2"]
    assert state() == state(v2)
    # as-of before any commit: empty
    assert state(v0 - 1) == []


def test_vacuum_reclaims_abandoned_publish_dirs(spark, tmp_path):
    """put_many writes each result into a ``.tmp-*`` directory under
    results/ and renames it into place; a writer that dies before the
    rename abandons that directory. vacuum() removes it once it is past
    the retention window, and never one inside it (a live publish)."""
    import os
    import time

    cache = CacheManifest(spark, str(tmp_path / "cache"))
    cache.put("live", "extract", spark.createDataFrame([Row(asdf_id=1, exfield_0=1.0)]))
    results = os.path.dirname(cache.result_path("live"))
    abandoned, writing = (os.path.join(results, f".tmp-{n}") for n in ("dead", "busy"))
    for d in (abandoned, writing):
        os.makedirs(d)
        open(os.path.join(d, "part-00000.parquet"), "w").close()
    old = time.time() - 100
    os.utime(abandoned, (old, old))
    os.utime(cache.result_path("live"), (old, old))
    assert cache.vacuum(retention_s=10) == [abandoned]
    assert sorted(os.listdir(results)) == [".tmp-busy", "live"]
    assert cache.get("live").count() == 1


def test_publish_never_adopts_a_crashed_writers_leftover(spark, tmp_path):
    """A result directory left by a writer that crashed mid-write (no
    ``_SUCCESS`` marker) is replaced by the new publish, not adopted."""
    import os

    cache = CacheManifest(spark, str(tmp_path / "cache"))
    leftover = cache.result_path("h1")
    os.makedirs(os.path.join(leftover, "_temporary"))
    open(os.path.join(leftover, "part-00000.parquet"), "w").close()  # torn file
    cache.put("h1", "extract", spark.createDataFrame([Row(asdf_id=1, exfield_0=4.2)]))
    assert sorted(os.listdir(leftover)) == ["_SUCCESS", "part-00000.parquet"]
    assert cache.table("h1").to_pylist() == [{"asdf_id": 1, "exfield_0": 4.2}]
    assert os.listdir(os.path.dirname(leftover)) == ["h1"]
