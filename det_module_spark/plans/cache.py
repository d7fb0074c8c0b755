"""Content-addressed result cache + incremental evaluation (E2).

This is the reference's single most important performance feature
(SURVEY.md §4): results are memoized under the SHA-1 of the normalized
item spec, shared across requests and users (common-subexpression
elimination at the workload level). The reference probes Mongo + the
filesystem per item (queue/extract_check.py:62-110,
queue/msr_check.py:22-53); here the probe is ONE set lookup of the
request's hashes against the ready set of the manifest log, folded on
the driver.

States mirror the reference's work-item machine
(queue/extract_check.py:113-143): an item counts as *cached* only when
status == DONE **and** its artifact is committed — a done row without a
committed artifact is missing (extract_check.py:132-136).

Write path — publish by rename, then commit: ``put_many`` writes each
result with pyarrow on the driver into a ``.tmp-*`` directory under
``results/`` and publishes it with one ``os.rename`` to
``results/<hash>``; only then does one log commit record the batch.
Concurrent writers of one hash race on the rename, and the loser drops
its copy (content addressing makes them equal), so a crashed or racing
writer never yields a phantom cache hit or a torn artifact.

Durability: the manifest is an append-only TRANSACTION LOG
(Delta-protocol shape, VERDICT r01 #5) of immutable
``{version:020d}.parquet`` commits, each version claimed atomically
with ``link(2)`` (``_write_linked``). Readers resolve "highest version
wins per spec_hash", so concurrent writers interleave but never lose
each other's rows; ``compact()`` folds a long log into one commit.

The log is written AND replayed with pyarrow on the driver: it is
control-plane metadata (one row per item ever computed). ``get()``
takes a result's schema from its parquet footer, so a cache hit starts
no Spark job.

Hot path — hold what was read, check it against the files:
``cached()`` keeps the last replay's ready set as an immutable snapshot
with the listings it came from. A probe lists the log and the
checkpoints and stats the newest folded file; while all three are
unchanged it answers from the snapshot, and any change (a commit,
compact, checkpoint, a rebuilt root) replays as before. Time travel,
``diff``, ``vacuum``, ``compact`` and ``checkpoint`` always replay.
``table()`` serves a result's Arrow table from a process-wide tier
(``TABLE_CACHE_BYTES``, least recently used out) while its part files
keep the (inode, mtime_ns, size) they were read with. A repeated
probe of an unchanged log therefore costs two listings and one stat
whatever the log's length, and a repeated item one stat.
"""

from __future__ import annotations

import errno
import glob
import json
import os
import shutil
import tempfile
import threading
import time
from collections import OrderedDict
from dataclasses import dataclass
from typing import Iterable

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema

STATUS_QUEUED = 0
STATUS_DONE = 1
STATUS_PROCESSING = 2
STATUS_ERROR = -1

MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("spec_hash", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("status", T.IntegerType(), False),
        T.StructField("committed", T.BooleanType(), False),
        T.StructField("path", T.StringType(), True),
        T.StructField("update_time", T.LongType(), True),
    ]
)
_COLS = MANIFEST_SCHEMA.fieldNames()

# one log file: manifest rows plus the version of the commit (or
# checkpoint) that wrote them
_LOG_SCHEMA = pa.schema(
    [
        ("spec_hash", pa.string()),
        ("kind", pa.string()),
        ("status", pa.int32()),
        ("committed", pa.bool_()),
        ("path", pa.string()),
        ("update_time", pa.int64()),
        ("version", pa.int64()),
    ]
)


# the footer key of the Spark schema, which Spark's writer sets and
# Spark's own schema inference reads
_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"

# Bytes of item tables ``table()`` keeps in memory for the whole
# process, least recently used evicted first. An item is one row per
# boundary feature (or per MSR grid cell), a few KB to a few MB in
# Arrow; perfbench's request_hot reads 11 extract tables holding 42 KB.
# A table larger than this is read each time and never held.
TABLE_CACHE_BYTES = 256 << 20


def _log_table(rows: list[tuple], version: int | None) -> pa.Table:
    data = {c: [r[i] for r in rows] for i, c in enumerate(_COLS)}
    data["version"] = [version] * len(rows)
    return pa.table(data, schema=_LOG_SCHEMA)


def _file_id(path: str) -> tuple[int, int, int]:
    """(inode, mtime_ns, size) of ``path``: a file replaced, rewritten
    or removed and re-created under the same name gets a new one."""
    st = os.stat(path)
    return st.st_ino, st.st_mtime_ns, st.st_size


def _file_id_or_none(path: str | None) -> tuple[int, int, int] | None:
    try:
        return None if path is None else _file_id(path)
    except FileNotFoundError:
        return None


@dataclass(frozen=True)
class _Snapshot:
    """The ready set of one replay of the log, with the listing it was
    folded from (``CacheManifest._listing``). Never changed in place:
    ``cached()`` swaps in a new one by assignment."""

    listing: tuple
    ready: frozenset[str]


class _TableTier:
    """Item tables as ``pq.read_table`` returned them, keyed by result
    directory, each with the identity of the part files it was read
    from; past ``limit`` bytes the least recently used go first. Safe
    to share between threads: a lock guards the map, reads run outside
    it."""

    def __init__(self, limit: int):
        self.limit = limit
        self._lock = threading.Lock()
        self._entries: OrderedDict[str, tuple[tuple, pa.Table, int]] = OrderedDict()
        self._bytes = 0

    def get(self, key: str) -> tuple[tuple, pa.Table] | None:
        with self._lock:
            entry = self._entries.get(key)
            if entry is None:
                return None
            self._entries.move_to_end(key)
            return entry[0], entry[1]

    def put(self, key: str, parts: tuple, table: pa.Table) -> None:
        size = table.nbytes
        if size > self.limit:
            return
        with self._lock:
            old = self._entries.pop(key, None)
            if old is not None:
                self._bytes -= old[2]
            self._entries[key] = (parts, table, size)
            self._bytes += size
            while self._bytes > self.limit:
                _, (_, _, evicted) = self._entries.popitem(last=False)
                self._bytes -= evicted


_TABLES = _TableTier(TABLE_CACHE_BYTES)


class CacheManifest:
    """Transaction-log-backed manifest keyed by spec hash."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.log_path = os.path.join(root, "_manifest_log")
        self._snap: _Snapshot | None = None

    # -- log primitives ---------------------------------------------

    @staticmethod
    def _list(d: str) -> list[int]:
        if not os.path.isdir(d):
            return []
        return sorted(
            int(f.split(".")[0]) for f in os.listdir(d) if f.endswith(".parquet")
        )

    def _versions(self) -> list[int]:
        return self._list(self.log_path)

    @property
    def _ckpt_dir(self) -> str:
        return os.path.join(self.log_path, "_ckpt")

    def _ckpt_versions(self) -> list[int]:
        """Available checkpoint versions (state folded THROUGH that
        commit version), ascending."""
        return self._list(self._ckpt_dir)

    def _write_linked(self, d: str, version: int, rows: list[tuple]) -> bool:
        """Write ``rows`` labeled ``version`` and claim
        ``d/{version}.parquet`` with ``os.link`` — hard-linking onto an
        existing path raises FileExistsError, so exactly one writer
        wins each file (False = already taken). The temp file lives
        OUTSIDE the log dir so readers never see partial parquet."""
        os.makedirs(d, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=self.root, suffix=".log.tmp")
        os.close(fd)
        try:
            pq.write_table(_log_table(rows, version), tmp)
            try:
                os.link(tmp, os.path.join(d, f"{version:020d}.parquet"))
            except FileExistsError:
                return False
            return True
        finally:
            os.unlink(tmp)

    def _commit(
        self, rows: list[tuple], require_version: int | None = None
    ) -> int | None:
        """Atomically append one commit file containing ``rows``:
        claim version = max(existing)+1; the loser of a race re-lists
        and retries. ``require_version`` pins the claim to ONE version
        and returns None if it is taken — the compare-and-swap
        compact() needs (its snapshot is only valid as
        snapshot_max+1)."""
        while True:
            if require_version is not None:
                v = require_version
            else:
                versions = self._versions()
                v = versions[-1] + 1 if versions else 0
            if self._write_linked(self.log_path, v, rows):
                return v
            if require_version is not None:
                return None  # CAS failed — caller re-snapshots

    def _replay(
        self, as_of: int | None = None
    ) -> tuple[dict[str, tuple], int | None]:
        """Fold the log into ``(state, version)``: ``state`` maps each
        spec_hash to its highest-version row, ``version`` is the
        highest version replayed (None = nothing to replay). The replay
        is [newest checkpoint ≤ ``as_of``] + the commits above it, so
        its cost follows the tail, not the log; commits a compact()
        deleted below the checkpoint are covered by the checkpoint or
        by the compact's fold commit in the tail.

        Safe against a concurrent compact(): if a listed file vanishes
        before or during the read, re-list and retry — compact claims
        its fold version BEFORE deleting, so the fresh listing holds
        the fold and the result is complete, never partial. A readdir
        overlapping that delete window may also transiently list
        nothing for a non-empty log, so an empty listing is re-listed
        a few times before it is trusted."""
        empty_retries = 0
        while True:
            ckpts = [
                c for c in self._ckpt_versions() if as_of is None or c <= as_of
            ]
            base = ckpts[-1] if ckpts else None
            listed = self._versions()
            if not listed and base is None:
                if empty_retries < 3:
                    empty_retries += 1
                    time.sleep(0.002 * empty_retries)
                    continue
                return {}, None
            empty_retries = 0
            tail = [
                v
                for v in listed
                if (base is None or v > base) and (as_of is None or v <= as_of)
            ]
            files = [os.path.join(self.log_path, f"{v:020d}.parquet") for v in tail]
            if base is not None:
                files.insert(0, os.path.join(self._ckpt_dir, f"{base:020d}.parquet"))
            state: dict[str, tuple] = {}
            try:
                # ascending version order: a later row replaces an
                # earlier one, so the highest version wins
                for f in files:
                    with pq.ParquetFile(f) as pf:
                        t = pf.read(columns=_COLS)
                    for row in zip(*(t.column(c).to_pylist() for c in _COLS)):
                        state[row[0]] = row
            except FileNotFoundError:
                continue  # a compact folded under us — re-list
            # commit files are immutable while present: if all listed
            # files still exist after the read, the snapshot is complete
            if all(os.path.exists(f) for f in files):
                return state, (tail[-1] if tail else base)

    def checkpoint(self) -> int | None:
        """Delta-_last_checkpoint mirror: fold the state through the
        current max commit version V into ``_ckpt/V.parquet`` without
        deleting any commit, so reads replay only the tail while time
        travel to any version keeps working (unlike ``compact()``).
        Checkpoint rows carry ``version = V``, so the normal
        highest-version-wins replay needs no special case. V is the
        replayed snapshot's OWN max version: under a racing compact()
        the verified set can be [5..10, fold-11], complete for 11 but
        for no lower version. Racers write equal files and the
        ``os.link`` claim dedupes them. Returns V, or None on an empty
        log."""
        state, v = self._replay()
        if v is not None:
            self._write_linked(self._ckpt_dir, v, list(state.values()))
        return v

    def read(self, as_of_version: int | None = None) -> DataFrame:
        """Manifest state: replay the log, highest version wins per
        spec_hash. ``as_of_version`` is TIME TRAVEL — replay only
        commits with version <= it (commits are immutable once claimed;
        compact() collapses history, checkpoint() keeps it). The rows
        reach Spark as an Arrow batch, which plans as a LocalTableScan:
        no job and no Python worker to scan them."""
        state, v = self._replay(as_of_version)
        table = _log_table(list(state.values()), v).drop_columns("version")
        return self.spark.createDataFrame(table, schema=MANIFEST_SCHEMA)

    def versions(self) -> list[int]:
        """Committed log versions, ascending — the valid arguments to
        ``read(as_of_version=...)``."""
        return self._versions()

    def compact(self) -> None:
        """Fold the whole log into one commit file and drop the older
        files — a compare-and-swap loop: replay (snapshot_max = highest
        replayed version), then claim exactly snapshot_max + 1 with
        ``require_version``. Writers claim contiguous versions, so a
        commit that landed after the snapshot owns that version, the
        CAS fails and the snapshot retries: the fold can never take a
        version above a commit it did not include. Readers retry when
        a listed file vanishes and the retry lists the fold, so they
        see the pre- or post-fold state, never a partial one."""
        while True:
            state, snap_max = self._replay()
            if snap_max is None:
                return
            fold = snap_max + 1
            if self._commit(list(state.values()), require_version=fold) is None:
                continue  # a commit landed after the snapshot — retry
            for old in self._versions():
                if old >= fold:
                    break
                try:  # a racing compact may have deleted it already
                    os.unlink(os.path.join(self.log_path, f"{old:020d}.parquet"))
                except FileNotFoundError:
                    pass
            return

    def cached(self, hashes: Iterable[str]) -> set[str]:
        """The subset of ``hashes`` whose results are ready to merge:
        the latest row is status DONE with a committed artifact. A set
        lookup against the ready set of the replayed log — no Spark
        job, and no log file read while the log is unchanged since the
        last probe."""
        return self._ready().intersection(hashes)

    def _newest(self, ckpts: tuple[int, ...], listed: tuple[int, ...]) -> str | None:
        """The newest file a replay of these listings folds: the top
        commit above the newest checkpoint, else that checkpoint."""
        base = ckpts[-1] if ckpts else None
        if listed and (base is None or listed[-1] > base):
            return os.path.join(self.log_path, f"{listed[-1]:020d}.parquet")
        if base is not None:
            return os.path.join(self._ckpt_dir, f"{base:020d}.parquet")
        return None

    def _listing(self) -> tuple[tuple[int, ...], tuple[int, ...], tuple | None]:
        """(checkpoint versions, log versions, identity of the newest
        file they fold — None when there is none)."""
        ckpts, listed = tuple(self._ckpt_versions()), tuple(self._versions())
        return ckpts, listed, _file_id_or_none(self._newest(ckpts, listed))

    def _ready(self) -> frozenset[str]:
        """The hashes ready to merge, from the last snapshot while the
        log is unchanged since: a probe lists the log and the
        checkpoints and stats the newest folded file. Any change — a
        commit, a compact, a checkpoint, or a newest file that is not
        the one folded (the root was wiped and rebuilt) — replays the
        log with ``_replay``."""
        snap = self._snap
        listing = self._listing()
        if snap is not None and listing == snap.listing:
            return snap.ready
        return self._replay_ready(listing)

    def _replay_ready(self, before: tuple) -> frozenset[str]:
        """The ready set of a full ``_replay``. It becomes the snapshot
        only when the listing taken ``before`` it is unchanged after
        it, so the snapshot's listing is the one its state came from."""
        state, _ = self._replay()
        ready = frozenset(
            h
            for h, _, status, committed, *_ in state.values()
            if status == STATUS_DONE and committed
        )
        if before[2] is not None and self._listing() == before:
            self._snap = _Snapshot(before, ready)
        return ready

    def result_path(self, spec_hash: str) -> str:
        return os.path.join(self.root, "results", spec_hash)

    def put(self, spec_hash: str, kind: str, result: pa.Table | DataFrame) -> str:
        """Publish one result + commit its manifest row. See put_many."""
        return self.put_many([(spec_hash, kind, result)])[0]

    def put_many(
        self, entries: list[tuple[str, str, pa.Table | DataFrame]]
    ) -> list[str]:
        """Publish each result by rename, then commit ALL manifest rows
        in one log commit (the reference's idempotent enqueue,
        extract_check.py:165-183, batched). A DataFrame is collected
        with ``toArrow``: results are bounded (one row per boundary
        feature, or an MSR grid). A crash leaves at worst a ``.tmp-*``
        directory or a published, uncommitted artifact (``vacuum``
        reclaims both) — never a phantom cache hit."""
        rows: dict[str, tuple] = {}
        for h, kind, result in entries:
            if h not in rows:
                table = result if isinstance(result, pa.Table) else result.toArrow()
                self._publish(h, table)
                rows[h] = (h, kind, STATUS_DONE, True, self.result_path(h), 0)
        if rows:
            self._commit(list(rows.values()))
        return [r[4] for r in rows.values()]

    def _publish(self, spec_hash: str, table: pa.Table) -> None:
        """Write ``table`` into a ``.tmp-*`` directory under results/
        and rename it to ``results/<hash>``. The first rename wins; a
        loser drops its copy, which the content address makes equal."""
        final = self.result_path(spec_hash)
        os.makedirs(os.path.dirname(final), exist_ok=True)
        tmp = tempfile.mkdtemp(prefix=".tmp-", dir=os.path.dirname(final))
        # the Spark schema (every field nullable) under Spark's footer
        # key, which get() and Spark's own inference read
        schema = pa.schema([f.with_nullable(True) for f in table.schema])
        footer = {_ROW_METADATA: from_arrow_schema(schema).json()}
        part = os.path.join(tmp, "part-00000.parquet")
        pq.write_table(table.cast(schema.with_metadata(footer)), part)
        open(os.path.join(tmp, "_SUCCESS"), "w").close()
        while True:
            try:
                os.rename(tmp, final)
                return
            except OSError as e:
                if e.errno not in (errno.ENOTEMPTY, errno.EEXIST):
                    raise  # anything but "the target is taken"
            if os.path.exists(os.path.join(final, "_SUCCESS")):
                shutil.rmtree(tmp)  # an equal copy was published first
                return
            # a leftover without _SUCCESS (a Spark writer that crashed
            # mid-write) is never adopted: move it aside and retry
            try:
                os.rename(final, tmp + "-old")
            except FileNotFoundError:
                continue
            shutil.rmtree(tmp + "-old", ignore_errors=True)

    def _parts(self, spec_hash: str) -> list[str]:
        path = self.result_path(spec_hash)
        return sorted(glob.glob(os.path.join(path, "part-*.parquet")))

    def get(self, spec_hash: str) -> DataFrame:
        """Read one result with the Spark schema stored in a part
        file's footer (Spark's own inference reads the same key), so no
        schema-inference job runs."""
        footer = pq.read_schema(self._parts(spec_hash)[0]).metadata
        schema = T.StructType.fromJson(json.loads(footer[_ROW_METADATA]))
        return self.spark.read.schema(schema).parquet(self.result_path(spec_hash))

    def table(self, spec_hash: str) -> pa.Table:
        """One result as an Arrow table on the driver: the same part
        files ``get`` reads, no Spark job. A table read before is
        served from memory while each of its part files keeps the
        (inode, mtime_ns, size) it was read with — one ``stat`` per
        part. A published artifact is replaced only by renaming a new
        directory onto its name, so a re-published one has new part
        files and is read again."""
        path = self.result_path(spec_hash)
        hit = _TABLES.get(path)
        if hit is not None:
            parts, table = hit
            if all(_file_id_or_none(p) == fid for p, fid in parts):
                return table
        files = self._parts(spec_hash)
        # identities taken BEFORE the read: a file replaced while it is
        # read is held under its old identity, so it is read again
        parts = tuple((p, _file_id(p)) for p in files)
        table = pq.read_table(files)
        if parts:
            _TABLES.put(path, parts, table)
        return table

    def diff(self, v_from: int, v_to: int | None = None) -> DataFrame:
        """Audit two points of manifest history: what changed between
        ``read(as_of_version=v_from)`` and ``v_to`` (None = current).
        One row per differing spec_hash with ``change`` in (added,
        changed, removed) plus the before/after paths — the time-travel
        DESCRIBE-HISTORY companion. Removed never occurs under pure
        upserts but is classified for completeness."""
        a, _ = self._replay(v_from)
        b, _ = self._replay(v_to)
        rows = []
        for h in sorted(a.keys() | b.keys()):
            ra, rb = a.get(h), b.get(h)
            if ra is None or rb is None or ra[1:5] != rb[1:5]:
                # compare (kind, status, committed, path)
                change = "added" if ra is None else "removed" if rb is None else "changed"
                rows.append((h, change, ra and ra[4], rb and rb[4]))
        return self.spark.createDataFrame(
            rows, "spec_hash string, change string, path_from string, path_to string"
        )

    def vacuum(
        self, retention_s: float = 86_400.0, dry_run: bool = False
    ) -> list[str]:
        """Delete ORPHANED result directories — ones no manifest row
        references, the Delta VACUUM mirror for the tx-log. Publish by
        rename, then commit leaves two kinds: a ``.tmp-*`` directory a
        writer abandoned before its rename, and a published artifact
        whose commit never came.

        ``retention_s`` guards a live ``put_many``: only directories
        whose mtime is older than the retention are candidates, so a
        temp directory being written, or an artifact published but not
        yet committed, is never swept. Returns the removed (or, with
        ``dry_run``, would-be-removed) paths."""
        results_dir = os.path.join(self.root, "results")
        if not os.path.isdir(results_dir):
            return []
        # compare by directory NAME (= the spec hash): manifest rows
        # store the path as spelled by the writing process, and a
        # maintenance process opened on another spelling of the root
        # would string-match nothing and sweep every live artifact
        state, _ = self._replay()
        referenced = {
            os.path.basename(os.path.normpath(r[_COLS.index("path")]))
            for r in state.values()
        }
        cutoff = time.time() - retention_s
        removed = []
        for d in sorted(os.listdir(results_dir)):
            full = os.path.join(results_dir, d)
            if d in referenced:
                continue
            try:
                if os.path.getmtime(full) > cutoff:
                    continue  # inside the retention window — maybe live
            except OSError:
                continue  # vanished already
            removed.append(full)
            if not dry_run:
                shutil.rmtree(full, ignore_errors=True)
        return removed
