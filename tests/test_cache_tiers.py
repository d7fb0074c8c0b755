"""The cache's in-memory tiers against the files they came from: the
manifest snapshot ``cached()`` probes and the item tables ``table()`` serves. Each must answer what a
fresh read of the files answers. No Spark session: the probe and the
table path never touch it."""

import shutil
import threading

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from det_module_spark.plans import cache as cache_mod
from det_module_spark.plans.cache import (
    STATUS_DONE,
    STATUS_ERROR,
    CacheManifest,
    _TableTier,
)


def row(h, status=STATUS_DONE, committed=True):
    return (h, "extract", status, committed, f"p-{h}", 0)


@pytest.fixture()
def opened(monkeypatch):
    """Paths of the log files ``pq.ParquetFile`` opens from here on."""
    paths = []
    real = pq.ParquetFile

    def counting(source, *args, **kwargs):
        paths.append(source)
        return real(source, *args, **kwargs)

    monkeypatch.setattr(pq, "ParquetFile", counting)
    return paths


def fresh(cache, hashes):
    return CacheManifest(None, cache.root).cached(hashes)


def test_repeated_probe_opens_no_log_file(tmp_path, opened):
    """With a 10k-row checkpointed manifest, a repeated probe opens no
    log file; a probe after a commit replays and is then held again."""
    cache = CacheManifest(None, str(tmp_path / "cache"))
    hashes = [f"h{i:05d}" for i in range(10_000)]
    cache._commit([row(h) for h in hashes])
    cache._commit([row("h00000", STATUS_ERROR)])  # a later row wins
    assert cache.checkpoint() == 1
    probe = hashes[:6] + ["absent"]

    assert cache.cached(probe) == set(hashes[1:6])  # the first probe replays
    del opened[:]
    for _ in range(3):
        assert cache.cached(probe) == set(hashes[1:6])
    assert opened == []

    cache._commit([row("h00000"), row("h00001", committed=False), row("new")])
    want = {"h00000", *hashes[2:6], "new"}
    assert cache.cached(probe + ["new"]) == want
    assert opened  # the commit changed the log: replayed
    del opened[:]
    assert cache.cached(probe + ["new"]) == want
    assert opened == []
    assert fresh(cache, probe + ["new"]) == want


def test_snapshot_matches_a_fresh_instance(tmp_path):
    """After each change to the log — another instance's commit,
    compact, checkpoint, a wipe and rebuild to the same version numbers
    — a long-lived instance's probe answers what a fresh one does."""
    root = str(tmp_path / "cache")
    cache, other = CacheManifest(None, root), CacheManifest(None, root)
    universe = [f"h{i}" for i in range(8)] + ["x", "y"]

    def check():
        assert cache.cached(universe) == fresh(cache, universe)

    for i in range(4):
        other._commit([row(f"h{i}")])
    check()
    other._commit([row("h1", STATUS_ERROR), row("h4")])  # another instance
    check()
    assert cache.cached(universe) == {"h0", "h2", "h3", "h4"}
    other.compact()
    check()
    other._commit([row("h1")])
    check()
    other.checkpoint()
    check()
    other._commit([row("h5"), row("h2", committed=False)])
    check()
    assert cache.cached(universe) == {"h0", "h1", "h3", "h4", "h5"}

    # wipe the root and rebuild it to the same version numbers with
    # other rows: the listings match the snapshot's, the files do not
    versions, ckpts = cache._versions(), cache._ckpt_versions()
    shutil.rmtree(root)
    for v in versions:
        assert other._write_linked(other.log_path, v, [row("x")] if v == versions[-1] else [])
    for v in ckpts:
        other._write_linked(other._ckpt_dir, v, [row("y")])
    assert (cache._versions(), cache._ckpt_versions()) == (versions, ckpts)
    check()
    assert cache.cached(universe) == {"x", "y"}


def test_probes_while_another_thread_commits(tmp_path):
    """4 threads probe one instance while a fifth commits one hash at a
    time: every probe holds every hash committed before it started and
    nothing that was never committed; the last probes hold them all."""
    cache = CacheManifest(None, str(tmp_path / "cache"))
    cache._commit([row("seed")])
    written = [f"w{i}" for i in range(40)]
    done = []  # hashes whose commit has returned, in order
    errors = []

    def writer():
        writer_cache = CacheManifest(None, cache.root)
        for h in written:
            writer_cache._commit([row(h)])
            done.append(h)

    def prober():
        try:
            while True:
                finished = len(done) == len(written)
                before = set(done)
                got = cache.cached(["seed", *written, "never"])
                assert before | {"seed"} <= got <= {"seed", *written}
                if finished:
                    assert got == {"seed", *written}
                    return
        except Exception as e:  # noqa: BLE001 - collected for the assert
            errors.append(e)

    threads = [threading.Thread(target=prober) for _ in range(4)]
    threads.append(threading.Thread(target=writer))
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors


def test_table_served_from_memory_until_republished(tmp_path, monkeypatch):
    """A table read once is served from memory while its part file is
    unchanged; a re-published artifact, or a part file rewritten in
    place, is read again rather than served stale."""
    cache = CacheManifest(None, str(tmp_path / "cache"))
    first = pa.table({"asdf_id": [1, 2], "exfield_0": [1.0, 2.0]})
    cache.put_many([("h", "extract", first)])
    reads = []
    real = pq.read_table
    monkeypatch.setattr(
        cache_mod.pq, "read_table", lambda src, **kw: reads.append(src) or real(src, **kw)
    )

    t1 = cache.table("h")
    assert t1.equals(real(cache._parts("h")))
    assert cache.table("h") is t1 and len(reads) == 1

    # each rewrite below adds a row, so the part file's size changes
    # even where its inode is reused and its mtime lands in the same
    # tick of a coarse filesystem clock

    # re-publish: a new directory renamed onto the hash's name
    shutil.rmtree(cache.result_path("h"))
    second = pa.table({"asdf_id": [1, 2, 3], "exfield_0": [3.0, 4.0, 5.0]})
    cache.put_many([("h", "extract", second)])
    assert cache.table("h").column("exfield_0").to_pylist() == [3.0, 4.0, 5.0]
    assert len(reads) == 2

    # a part file rewritten in place
    third = pa.table({"asdf_id": [1, 2, 3, 4], "exfield_0": [5.0, 6.0, 7.0, 8.0]})
    pq.write_table(third.cast(real(cache._parts("h")).schema), cache._parts("h")[0])
    assert cache.table("h").column("exfield_0").to_pylist() == [5.0, 6.0, 7.0, 8.0]
    assert len(reads) == 3


def test_table_tier_evicts_least_recently_used_past_its_bytes():
    a, b, c = (pa.table({"v": pa.array([float(i)] * 100)}) for i in range(3))
    size = a.nbytes
    tier = _TableTier(2 * size)
    tier.put("a", ("pa",), a)
    tier.put("b", ("pb",), b)
    assert tier.get("a") == (("pa",), a)  # a is now the most recent
    tier.put("c", ("pc",), c)
    assert tier.get("b") is None and tier.get("a") is not None and tier.get("c") is not None
    tier.put("c", ("pc2",), c)  # replacing an entry does not count it twice
    assert tier.get("a") is not None and tier._bytes == 2 * size
    tier.put("big", ("pbig",), pa.table({"v": pa.array([0.0] * 300)}))
    assert tier.get("big") is None  # larger than the whole tier: never held
    assert tier._bytes == 2 * size
