"""Content-addressed result cache + incremental evaluation (E2).

This is the reference's single most important performance feature
(SURVEY.md §4): results are memoized under the SHA-1 of the normalized
item spec, shared across requests and users (common-subexpression
elimination at the workload level). The reference probes Mongo + the
filesystem per item (queue/extract_check.py:62-110,
queue/msr_check.py:22-53); here the probe is ONE set lookup of the
request's hashes against the manifest log replayed on the driver.

States mirror the reference's work-item machine
(queue/extract_check.py:113-143): an item counts as *cached* only when
status == DONE **and** its artifact is committed — a done row without a
committed artifact is missing (extract_check.py:132-136). Artifact
commit is represented by the ``committed`` flag written only after the
result parquet is fully written (the ``_SUCCESS``-marker pattern),
so a crashed writer never yields a phantom cache hit.

Durability: the manifest is an append-only TRANSACTION LOG
(Delta-protocol shape, VERDICT r01 #5) of immutable
``{version:020d}.parquet`` commits, each version claimed atomically
with ``link(2)`` (``_write_linked``). Readers resolve "highest version
wins per spec_hash", so concurrent writers interleave but never lose
each other's rows; ``compact()`` folds a long log into one commit.

The log is written AND replayed with pyarrow on the driver: it is
control-plane metadata (one row per item ever computed). ``cached()``
is a set lookup against the replay, ``table()`` reads a result into
Arrow on the driver and ``get()`` takes a result's schema from its
parquet footer, so a cache hit starts no Spark job.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import tempfile
import time
from typing import Iterable

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

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


def spark_schema(footer: pa.Schema) -> T.StructType:
    """The Spark schema a Spark writer stored in a parquet footer, the
    key Spark's own schema inference reads."""
    row_schema = footer.metadata[b"org.apache.spark.sql.parquet.row.metadata"]
    return T.StructType.fromJson(json.loads(row_schema))


def _log_table(rows: list[tuple], version: int | None) -> pa.Table:
    data = {c: [r[i] for r in rows] for i, c in enumerate(_COLS)}
    data["version"] = [version] * len(rows)
    return pa.table(data, schema=_LOG_SCHEMA)


class CacheManifest:
    """Transaction-log-backed manifest keyed by spec hash."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.log_path = os.path.join(root, "_manifest_log")

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
        """Atomically append one commit file containing ``rows``.

        Optimistic concurrency: claim version = max(existing)+1; the
        loser of a race re-reads the version list and retries.

        ``require_version`` pins the claim to ONE specific version and
        returns None instead of retrying if it is already taken — the
        compare-and-swap compact() needs: its snapshot is only valid
        as version snapshot_max+1, never as "whatever is free next"."""
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
        highest version replayed (None = nothing to replay). Safe
        against a concurrent compact(): if a listed file vanishes
        before or during the read, re-list and retry — the fresh
        listing always contains the fold commit (compact claims its
        version BEFORE deleting), so the result is complete, never
        partial.

        When a checkpoint ≤ ``as_of`` (or any, for as_of=None) exists,
        the replay is [newest applicable checkpoint] + commits ABOVE it
        — cost ∝ tail length, not log length. Commits a compact()
        deleted below the checkpoint are covered by either the
        checkpoint itself or the compact's fold commit in the tail.

        Empty-listing guard: POSIX readdir overlapping compact()'s
        delete-olds-after-claiming-fold window may legally miss BOTH
        the just-deleted files and the just-created fold, returning a
        transiently empty listing for a non-empty log — re-list a few
        times before trusting emptiness (a genuinely empty log stays
        empty; the race window is microseconds)."""
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
            # Commit files are immutable while present, so "all listed
            # files still exist after the read" proves the snapshot
            # was complete; otherwise a compact folded under us and the
            # fresh listing (which necessarily contains its fold) is
            # one retry away.
            if all(os.path.exists(f) for f in files):
                return state, (tail[-1] if tail else base)

    def checkpoint(self) -> int | None:
        """Delta-_last_checkpoint mirror: fold the state through the
        CURRENT max commit version V into ``_ckpt/V.parquet`` without
        deleting any commit — reads start from the newest applicable
        checkpoint and replay only the tail, while time travel to any
        version keeps working (unlike ``compact()``, which collapses
        history). Checkpoint rows carry ``version = V`` so the normal
        highest-version-wins replay handles them with no special case.

        Concurrency: V is the replayed snapshot's OWN max version,
        never one chosen from an earlier listing — under a racing
        compact() the verified set can legally be [5..10, fold-11]
        (commits 0..4 already deleted), which is complete for 11 but
        not for any lower version. Two racers produce equivalent files
        — the ``os.link`` claim dedupes. Returns the checkpointed
        version, or None on an empty log."""
        state, v = self._replay()
        if v is not None:
            self._write_linked(self._ckpt_dir, v, list(state.values()))
        return v

    def read(self, as_of_version: int | None = None) -> DataFrame:
        """Manifest state: replay the log, highest version wins per
        spec_hash. ``as_of_version`` is TIME TRAVEL — replay only
        commits with version <= it, reproducing any historical state
        exactly (commits are immutable once claimed, so the snapshot
        is stable until those files are compacted away; compact()
        folds history and collapses earlier versions; checkpoint()
        accelerates reads while PRESERVING time travel).

        The rows reach Spark as an Arrow batch, which plans as a
        LocalTableScan: no job and no Python worker to scan them."""
        state, v = self._replay(as_of_version)
        table = _log_table(list(state.values()), v).drop_columns("version")
        return self.spark.createDataFrame(table, schema=MANIFEST_SCHEMA)

    def versions(self) -> list[int]:
        """Committed log versions, ascending — the valid arguments to
        ``read(as_of_version=...)``."""
        return self._versions()

    def compact(self) -> None:
        """Fold the whole log into one commit file and drop the older
        files — a compare-and-swap loop so concurrent WRITERS are safe:

        1. replay the log (snapshot_max = highest replayed version)
        2. claim version snapshot_max + 1 with ``require_version``

        If ANY commit landed after the snapshot it owns snapshot_max+1
        (writers always claim the next contiguous version), so the CAS
        fails and the whole snapshot retries — the folded state can
        never be assigned a version above a commit it didn't include,
        which is the lost-update the old read-then-append had.
        Concurrent READERS are also safe: a replay retries if a listed
        file vanished, and the retried listing necessarily contains
        this compact's fold commit, so they observe either the
        pre-fold or post-fold state — never a partial one. Two
        concurrent compacts serialize the same way."""
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
                # missing_ok: a racing compact may have deleted some
                # of these already
                try:
                    os.unlink(os.path.join(self.log_path, f"{old:020d}.parquet"))
                except FileNotFoundError:
                    pass
            return

    def cached(self, hashes: Iterable[str]) -> set[str]:
        """The subset of ``hashes`` whose results are ready to merge:
        the latest row is status DONE with a committed artifact. A set
        lookup against the replayed log — no Spark job."""
        state, _ = self._replay()
        ready = {
            h
            for h, _, status, committed, *_ in state.values()
            if status == STATUS_DONE and committed
        }
        return ready.intersection(hashes)

    def result_path(self, spec_hash: str) -> str:
        return os.path.join(self.root, "results", spec_hash)

    def put(self, spec_hash: str, kind: str, df: DataFrame) -> str:
        """Write one result + commit its manifest row. See put_many."""
        return self.put_many([(spec_hash, kind, df)])[0]

    def put_many(
        self, entries: list[tuple[str, str, DataFrame]]
    ) -> list[str]:
        """Write results, then commit ALL manifest rows in one upsert
        (the reference's idempotent enqueue, extract_check.py:165-183,
        batched). Results are written before the manifest commit, so a
        crash mid-batch leaves at worst uncommitted artifacts — never
        a phantom cache hit. One log commit per batch instead of per
        item."""
        if not entries:
            return []
        from concurrent.futures import ThreadPoolExecutor

        # dedupe by spec hash FIRST: the store is content-addressed,
        # so duplicate entries are the same artifact by construction —
        # and without the dedupe two threads would run concurrent
        # mode("overwrite") jobs on the SAME result path (one deletes
        # while the other commits: a corrupt artifact recorded
        # committed=True, i.e. a durable phantom hit).
        seen: set[str] = set()
        entries = [
            e for e in entries if not (e[0] in seen or seen.add(e[0]))
        ]
        paths = [self.result_path(h) for h, _, _ in entries]

        def write(args) -> None:
            path, df = args
            df.write.mode("overwrite").parquet(path)

        # artifact writes are independent jobs on disjoint paths — run
        # them concurrently so batch latency is ~one write, not the sum
        # (Spark's scheduler interleaves the jobs across the executor)
        with ThreadPoolExecutor(max_workers=min(8, len(entries))) as ex:
            list(ex.map(write, [(p, e[2]) for p, e in zip(paths, entries)]))
        rows = [
            (h, kind, STATUS_DONE, True, p, 0)
            for (h, kind, _), p in zip(entries, paths)
        ]
        # one atomic upsert for the whole batch: concurrent writers'
        # commits interleave as distinct versions, never overwriting
        # each other (the rewrite-in-place this replaces could drop a
        # concurrent batch's rows)
        self._commit(rows)
        return paths

    def _parts(self, spec_hash: str) -> list[str]:
        path = self.result_path(spec_hash)
        return sorted(glob.glob(os.path.join(path, "part-*.parquet")))

    def get(self, spec_hash: str) -> DataFrame:
        """Read one result with the Spark schema its writer stored in a
        part file's footer (Spark's own inference reads the same key),
        so no schema-inference job runs."""
        schema = spark_schema(pq.read_schema(self._parts(spec_hash)[0]))
        return self.spark.read.schema(schema).parquet(self.result_path(spec_hash))

    def table(self, spec_hash: str) -> pa.Table:
        """Read one result into an Arrow table on the driver: the same
        part files ``get`` reads, no Spark job. The table keeps the
        first part's footer metadata, so ``spark_schema(t.schema)`` is
        the schema ``get`` would use."""
        return pq.read_table(self._parts(spec_hash))

    def diff(
        self, v_from: int, v_to: int | None = None
    ) -> DataFrame:
        """Audit two points of manifest history: what changed between
        ``read(as_of_version=v_from)`` and ``v_to`` (None = current).
        Returns one row per differing spec_hash with ``change`` in
        (added, changed, removed) plus the before/after paths — the
        time-travel DESCRIBE-HISTORY companion: checkpoint() keeps the
        versions readable, diff() explains them. Removed never occurs
        under pure upserts but is classified for completeness."""
        a = self.read(as_of_version=v_from).select(
            F.col("spec_hash"),
            F.struct("kind", "status", "committed", "path").alias("__a"),
        )
        b = self.read(as_of_version=v_to).select(
            F.col("spec_hash"),
            F.struct("kind", "status", "committed", "path").alias("__b"),
        )
        j = a.join(b, "spec_hash", "full_outer")
        return (
            j.withColumn(
                "change",
                F.when(F.col("__a").isNull(), F.lit("added"))
                .when(F.col("__b").isNull(), F.lit("removed"))
                .when(F.col("__a") != F.col("__b"), F.lit("changed"))
                .otherwise(F.lit(None)),
            )
            .filter(F.col("change").isNotNull())
            .select(
                "spec_hash",
                "change",
                F.col("__a.path").alias("path_from"),
                F.col("__b.path").alias("path_to"),
            )
        )

    def vacuum(
        self, retention_s: float = 86_400.0, dry_run: bool = False
    ) -> list[str]:
        """Delete ORPHANED result directories — artifacts no manifest
        row references. ``put_many`` writes artifacts BEFORE the
        manifest commit (crash-safe ordering: at worst uncommitted
        artifacts, never a phantom cache hit), so crashes accumulate
        orphans this reclaims — the Delta VACUUM mirror for the
        tx-log.

        ``retention_s`` is the safety window against exactly that
        write-then-commit ordering racing a live ``put_many``: only
        directories whose mtime is older than the retention are
        candidates, so an artifact written but not yet committed is
        never swept (Delta's retention guard, same reasoning). Returns
        the removed (or, with ``dry_run``, would-be-removed) paths."""
        results_dir = os.path.join(self.root, "results")
        if not os.path.isdir(results_dir):
            return []
        # compare by the artifact directory NAME (= the spec hash,
        # result_path's last segment), not the raw path string:
        # manifest rows store the path as spelled by the WRITING
        # process ('./cache/results/<h>'), and a maintenance process
        # opened on an absolute or symlinked root would string-match
        # nothing and sweep every LIVE artifact as an orphan. The
        # basename is spelling-independent by construction.
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
