"""Iceberg-shaped table catalog with a Parquet + manifest fallback.

The production design is Iceberg (bucketed transcripts, snapshot commits,
schema evolution — SURVEY.md §1.4); this sandbox has no
``iceberg-spark-runtime`` jar, so the same semantics are served by a thin
Parquet-backed catalog (SURVEY.md §7.4.5 fallback plan).  Jobs program
against ``TableCatalog`` only, so swapping in a real Iceberg catalog is a
constructor change, not a code change:

* ``append(df, table)``      → Iceberg ``df.writeTo(t).append()``
* ``overwrite(df, table)``   → Iceberg ``df.writeTo(t).createOrReplace()``
* ``read(table)``            → ``spark.table(t)`` (+ snapshot time travel)
* ``stage_* + commit({...})``→ a multi-table Iceberg/Nessie transaction

Commit protocol (real snapshot isolation, not an approximation):

* every write lands in a fresh immutable snapshot directory
  ``<table>/snap-<uuid>/`` — appends carry the previous snapshot's data
  files forward as HARDLINKS (metadata-only, no data copy; the Parquet
  twin of Iceberg manifests listing prior files);
* a commit is ONE atomic pointer swap: a manifest JSON mapping every
  table to its current snapshot is written to ``_manifests/`` and the
  ``_HEAD`` file is ``os.replace``d to name it.  Readers resolve
  ``_HEAD`` → manifest → snapshot dir, so they observe either the old or
  the new state of ALL tables in the commit — a kill at any instant
  leaves ``_HEAD`` naming a complete previous manifest, and a
  half-written snapshot is just an unreferenced directory (``vacuum``);
* multi-table atomicity falls out for free: ``commit({data: s1,
  lineage: s2})`` publishes an extraction batch and its lineage rows in
  the same pointer swap (SURVEY §7.4.6 single-commit semantics), so the
  orphan-drop recovery path in checkpoint/lineage.py is defense-in-depth
  rather than a correctness requirement;
* superseded snapshots stay readable (``read(table,
  snapshot="snap-…")`` = time travel) until ``expire_snapshots``.

``files(table, snapshot=None)`` is the one way to list a snapshot's data
files: readers such as checkpoint/lineage.py get file lists, never
directories, as Iceberg readers get a manifest's.

``stage_*`` take three kinds of input: a Spark DataFrame (written by
Spark), a ``pyarrow.Table`` (rows already on the driver, written as one
Parquet file) or a callable ``write(snap_dir)`` that writes the snapshot's
new files itself — checkpoint/lineage.py passes one whose Spark stage
writes Parquet with pyarrow from inside its tasks.  The carry-forward,
``discard_staged`` and ``commit`` do not care which wrote the files.

Concurrency — same-host MULTI-WRITER is supported: writers (processes
or threads) serialize the pointer swap through an exclusive ``flock``
on a persistent lockfile (kernel-released on crash, no staleness
heuristic), with snapshot-level optimistic validation under the lock —
a commit whose staged base is no longer the table's current snapshot
raises ``CommitConflictError`` (Iceberg's CommitFailedException
semantics), and ``append_retry`` wraps the full CAS loop: re-stage from
the new current, bounded retries.  Commits touching different tables
interleave safely; concurrent OVERWRITES of one table deliberately
conflict (pass ``validate_bases=False`` for last-wins).  The lock lives
on the warehouse filesystem — the same one-filesystem assumption
hardlink appends already make — so MULTI-host writers still need the
CAS service a real Iceberg/Nessie/Glue catalog provides at 100 TB.

Bucketed tables (``write_bucketed``) live outside the manifest: their
bucketing metadata is owned by the Spark session catalog (saveAsTable),
which is already atomic at the table-registration level.
"""

from __future__ import annotations

import fcntl
import json
import os
import shutil
import time
import uuid
from collections.abc import Callable, Collection, Iterator

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F

_MANIFEST_DIR = "_manifests"
_HEAD = "_HEAD"
_HEAD_LOCK = "_HEAD.lock"


class CommitConflictError(RuntimeError):
    """A staged snapshot's base is no longer the table's current snapshot:
    another writer committed the table between stage and commit, and the
    staged hardlink carry-forward would silently drop its rows.  Re-stage
    from the new current snapshot and retry (Iceberg's
    CommitFailedException retry loop)."""


class TableCatalog:
    def __init__(self, spark: SparkSession, warehouse: str) -> None:
        self.spark = spark
        self.warehouse = warehouse
        os.makedirs(os.path.join(warehouse, _MANIFEST_DIR), exist_ok=True)
        # snapshot relpath → the snapshot it was staged ON TOP OF (None for
        # a fresh table); commit() validates these bases under the lock and
        # drops the entries it publishes, discard_staged the ones it deletes
        self._staged_bases: dict[str, str | None] = {}

    # -- manifest machinery ------------------------------------------------
    def _head_file(self) -> str:
        return os.path.join(self.warehouse, _HEAD)

    def _current_manifest_name(self) -> str | None:
        try:
            with open(self._head_file()) as fh:
                return fh.read().strip() or None
        except FileNotFoundError:
            return None

    def _load_manifest(self, name: str | None) -> dict:
        if name is None:
            return {"tables": {}, "parent": None}
        with open(os.path.join(self.warehouse, _MANIFEST_DIR, name)) as fh:
            return json.load(fh)

    def current_tables(self) -> dict[str, str]:
        """table name → current snapshot relpath (``table/snap-…``)."""
        return self._load_manifest(self._current_manifest_name())["tables"]

    def _acquire_commit_lock(self, timeout_secs: float = 60.0) -> int:
        """Exclusive advisory lock for the commit critical section:
        ``flock(LOCK_EX)`` on a PERSISTENT lock file that is created once
        and never unlinked.  The kernel drops a crashed committer's lock
        automatically, so there is no staleness heuristic — the earlier
        mtime-based stale-break was racy (two waiters could both judge
        the lock stale and each unlink-and-recreate, the second unlinking
        the first's fresh lock and admitting two committers).  Never
        unlink the file: a waiter that opened the old inode would
        otherwise lock an orphan while a new opener locks a fresh one.
        flock conflicts across processes AND across fds in one process
        (per open-file-description), which is exactly the same-host
        single-filesystem contract the hardlink appends already assume;
        multi-host deployments need the catalog service (Iceberg/Nessie/
        Glue) named in the module docstring.  Returns the locked fd —
        release with ``_release_commit_lock``."""
        lock = os.path.join(self.warehouse, _HEAD_LOCK)
        fd = os.open(lock, os.O_CREAT | os.O_RDWR)
        deadline = time.monotonic() + timeout_secs
        while True:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                return fd
            except OSError:
                if time.monotonic() > deadline:
                    os.close(fd)
                    raise TimeoutError(
                        f"commit lock {lock} held for >{timeout_secs}s"
                    )
                time.sleep(0.01)

    @staticmethod
    def _release_commit_lock(fd: int) -> None:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)

    def commit(
        self, updates: dict[str, str | None], validate_bases: bool = True
    ) -> str:
        """Atomically publish staged snapshots for one or MORE tables.

        ``updates`` maps table → snapshot relpath from ``stage_append`` /
        ``stage_overwrite`` (or ``None`` to drop the table).  All entries
        become visible in the same ``os.replace`` of ``_HEAD``; a kill
        before the replace leaves every table at its previous snapshot.

        Concurrency: the read-merge-swap runs under an exclusive lockfile,
        so same-host writers SERIALIZE — commits touching different tables
        interleave safely.  ``validate_bases`` enforces snapshot-level
        optimistic concurrency: if a staged snapshot's base (recorded at
        stage time — the snapshot its hardlinks carried forward) is no
        longer the table's current snapshot, ``CommitConflictError`` is
        raised and the caller re-stages from the new current (pass False
        only for a deliberate last-wins overwrite)."""
        lock_fd = self._acquire_commit_lock()
        try:
            parent = self._current_manifest_name()
            tables = dict(self._load_manifest(parent)["tables"])
            if validate_bases:
                for t, snap in updates.items():
                    if snap is None or snap not in self._staged_bases:
                        continue
                    base, cur = self._staged_bases[snap], tables.get(t)
                    if base != cur:
                        raise CommitConflictError(
                            f"table {t!r}: staged {snap} on base {base!r} "
                            f"but current is {cur!r} — another writer "
                            "committed; re-stage and retry"
                        )
            for t, snap in updates.items():
                if snap is None:
                    tables.pop(t, None)
                else:
                    tables[t] = snap
            name = self._write_manifest(tables, parent)
            for snap in updates.values():  # published: no longer staged
                self._staged_bases.pop(snap, None)
            return name
        finally:
            self._release_commit_lock(lock_fd)

    def _write_manifest(self, tables: dict[str, str], parent: str | None) -> str:
        name = f"m-{uuid.uuid4().hex}.json"
        # durability order matters for POWER loss, not just process kills:
        # fsync the manifest bytes before _HEAD can point at them, fsync
        # the tmp _HEAD before the rename, and fsync the directory so the
        # rename itself is durable — otherwise _HEAD could survive a crash
        # pointing at a manifest whose bytes never reached disk
        with open(os.path.join(self.warehouse, _MANIFEST_DIR, name), "w") as fh:
            json.dump({"tables": tables, "parent": parent}, fh)
            fh.flush()
            os.fsync(fh.fileno())
        tmp = self._head_file() + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            fh.write(name)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, self._head_file())  # THE atomic commit point
        dir_fd = os.open(self.warehouse, os.O_RDONLY)
        try:
            os.fsync(dir_fd)
        finally:
            os.close(dir_fd)
        return name

    # -- paths / reads -----------------------------------------------------
    def path(self, table: str) -> str:
        """Table ROOT (snapshot dirs live under it; bucketed tables write
        their files directly here)."""
        return os.path.join(self.warehouse, table)

    def data_path(self, table: str) -> str | None:
        """Directory of the table's CURRENT snapshot (None if never
        committed)."""
        rel = self.current_tables().get(table)
        return os.path.join(self.warehouse, rel) if rel else None

    @staticmethod
    def _files(base: str, skip_snapshots: bool = False) -> Iterator[str]:
        """Relpaths of the data files under ``base``, lazily (``exists``
        stops at the first): every file whose name and whose dirs' names
        do not start with ``_`` or ``.`` (Spark's reader rule: no
        ``_SUCCESS``, ``.crc`` or ``_temporary/``, nor a task's unpublished
        files under a hidden dir).  ``skip_snapshots`` also prunes
        ``snap-*`` dirs (staged or historical snapshots under a table
        root)."""
        hidden = ("_", ".", "snap-") if skip_snapshots else ("_", ".")
        for root, dirs, names in os.walk(base):
            dirs[:] = [d for d in dirs if not d.startswith(hidden)]
            sub = os.path.relpath(root, base)
            prefix = "" if sub == "." else sub + os.sep
            yield from (prefix + f for f in names if not f.startswith(("_", ".")))

    @staticmethod
    def _snapshot_rel(table: str, snapshot: str) -> str:
        """``table/snap-…`` for a snapshot given in either form."""
        return snapshot if "/" in snapshot else f"{table}/{snapshot}"

    def files(self, table: str, snapshot: str | None = None) -> list[str]:
        """Sorted absolute paths of the data files of ``table``'s current
        snapshot or of ``snapshot`` (staged or committed, ``snap-…`` or
        ``table/snap-…``); ``[]`` for a table never committed."""
        rel = self.current_tables().get(table) if snapshot is None else (
            self._snapshot_rel(table, snapshot)
        )
        if rel is None:
            return []
        base = os.path.join(self.warehouse, rel)
        return sorted(os.path.join(base, f) for f in self._files(base))

    def exists(self, table: str) -> bool:
        rel = self.current_tables().get(table)
        # bucketed/legacy tables: files directly under the table root; a
        # staged-but-uncommitted snapshot must not make the table "exist"
        base = os.path.join(self.warehouse, rel) if rel else self.path(table)
        return next(self._files(base, skip_snapshots=rel is None), None) is not None

    def read(
        self,
        table: str,
        snapshot: str | None = None,
        merge_schema: bool = False,
    ) -> DataFrame:
        """Read the current snapshot — or, with ``snapshot`` (``snap-…`` or
        ``table/snap-…``), a superseded one that has not been expired
        (time travel).

        ``merge_schema=True`` serves Iceberg-style ADD-COLUMN evolution: a
        snapshot whose appends introduced new columns carries files of
        both shapes (old files ride forward as hardlinks), and the merged
        read surfaces the union schema with nulls for pre-evolution rows.
        Off by default because schema merging pays a per-file footer read
        at planning time — at 10^12 turns turn it on only for evolved
        tables (or compact() once, which rewrites every file to the
        current schema and makes the flag unnecessary)."""
        reader = self.spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        if snapshot is not None:
            rel = self._snapshot_rel(table, snapshot)
            return reader.parquet(os.path.join(self.warehouse, rel))
        dp = self.data_path(table)
        return reader.parquet(dp if dp else self.path(table))

    # -- staged writes -----------------------------------------------------
    def stage_overwrite(
        self,
        df: DataFrame | pa.Table | Callable[[str], object],
        table: str,
        partition_by: list[str] | None = None,
    ) -> str:
        """Write ``df`` into a NEW unreferenced snapshot dir; returns the
        snapshot relpath for ``commit``.  Invisible to readers until
        committed.  A ``pyarrow.Table`` (rows already in driver memory,
        e.g. lineage) is written as one Parquet file, without Spark; a
        callable is called once with the new (existing, empty) snapshot
        dir and writes the files, partition dirs included, itself."""
        snap = f"snap-{uuid.uuid4().hex}"
        base = self.current_tables().get(table)
        snap_dir = os.path.join(self.path(table), snap)
        if partition_by and not isinstance(df, DataFrame):
            raise ValueError("partition_by needs a Spark DataFrame")
        try:
            if isinstance(df, DataFrame):
                w = df.write.mode("overwrite")
                if partition_by:
                    w = w.partitionBy(*partition_by)
                w.parquet(snap_dir)
            else:
                os.makedirs(snap_dir)
                if isinstance(df, pa.Table):
                    pq.write_table(df, os.path.join(snap_dir, f"part-{uuid.uuid4()}.parquet"))
                else:
                    df(snap_dir)
        except BaseException:
            # no manifest names the half-written snapshot: drop it here
            shutil.rmtree(snap_dir, ignore_errors=True)
            raise
        rel = f"{table}/{snap}"
        self._staged_bases[rel] = base
        return rel

    def stage_append(
        self,
        df: DataFrame | pa.Table | Callable[[str], object],
        table: str,
        partition_by: list[str] | None = None,
    ) -> str:
        """Stage ``df`` plus the current snapshot's files (hardlinked —
        metadata-only, the Iceberg manifest-reuse analog) as a new
        snapshot.  Returns the snapshot relpath for ``commit``."""
        rel = self.stage_overwrite(df, table, partition_by)
        # carry forward the snapshot recorded as BASE at stage time (not a
        # re-resolved current: a concurrent commit mid-write must surface
        # as a base-validation conflict, not be silently half-linked)
        base = self._staged_bases.get(rel)
        if base:
            try:
                self._link_forward(base, rel)
            except FileExistsError:
                # don't leave a half-linked staged dir for vacuum to age
                # out — the snapshot was never returned, so nothing can
                # reference it
                self.discard_staged(rel)
                raise
        return rel

    def _link_forward(self, base: str, rel: str, skip: Collection[str] = ()) -> None:
        """Hardlink snapshot ``base``'s data files into snapshot ``rel``
        under the same relpaths, minus the top-level dirs in ``skip``.  A
        relpath ``rel`` already holds raises ``FileExistsError``: skipping
        it would silently drop historical rows (improbable with Spark's
        UUID part names, which is exactly why it must fail loudly)."""
        src = os.path.join(self.warehouse, base)
        dst = os.path.join(self.warehouse, rel)
        os.makedirs(dst, exist_ok=True)
        made = {""}
        for f in self._files(src):
            d = os.path.dirname(f)
            if d.split(os.sep, 1)[0] in skip:
                continue
            if d not in made:
                os.makedirs(os.path.join(dst, d), exist_ok=True)
                made.add(d)
            try:
                os.link(os.path.join(src, f), os.path.join(dst, f))
            except FileExistsError as e:
                raise FileExistsError(
                    f"name collision staging table {rel.split('/', 1)[0]!r}: "
                    f"{f} exists in both the new write and snapshot {base}"
                ) from e

    def discard_staged(self, snap_rel: str) -> None:
        """Delete a staged-but-never-committed snapshot."""
        shutil.rmtree(os.path.join(self.warehouse, snap_rel), ignore_errors=True)
        self._staged_bases.pop(snap_rel, None)

    # -- public write API --------------------------------------------------
    def append(self, df: DataFrame, table: str, partition_by: list[str] | None = None) -> None:
        self.commit({table: self.stage_append(df, table, partition_by)})

    def append_retry(
        self,
        df: DataFrame,
        table: str,
        partition_by: list[str] | None = None,
        max_retries: int = 5,
    ) -> str:
        """CAS append for CONCURRENT writers: stage against the current
        snapshot, attempt the commit, and on ``CommitConflictError``
        (another writer advanced the table between stage and commit)
        discard the staged snapshot and re-stage from the new current —
        appends commute (the hardlink carry-forward picks up whatever is
        current plus the new files), so the retry is always
        semantics-preserving.  Bounded by ``max_retries`` then
        re-raises; each retry re-executes the Spark write (the staged
        files are immutable per snapshot, so they cannot be rebased in
        place).  Returns the committed manifest name."""
        for attempt in range(max_retries + 1):
            rel = self.stage_append(df, table, partition_by)
            try:
                return self.commit({table: rel})
            except CommitConflictError:
                self.discard_staged(rel)
                if attempt == max_retries:
                    raise
        raise AssertionError("unreachable")

    def overwrite(self, df: DataFrame, table: str, partition_by: list[str] | None = None) -> None:
        self.commit({table: self.stage_overwrite(df, table, partition_by)})

    def drop(self, table: str) -> None:
        self.commit({table: None})
        shutil.rmtree(self.path(table), ignore_errors=True)

    def drop_partition_dirs(self, table: str, dirnames: list[str]) -> None:
        """Publish a new snapshot omitting the named top-level partition
        dirs (e.g. ``conv_bucket=3``) — hardlinks for everything kept, so
        this is a metadata-only delete, no data rewrite."""
        base = self.current_tables().get(table)
        if base is None or not self.files(table, base):
            return
        rel = f"{table}/snap-{uuid.uuid4().hex}"
        self._link_forward(base, rel, skip=set(dirnames))
        self._staged_bases[rel] = base
        self.commit({table: rel})

    # -- maintenance -------------------------------------------------------
    def snapshots(self, table: str) -> list[str]:
        """Snapshot relpaths for ``table``, newest first, walking the
        manifest parent chain (committed history only)."""
        out: list[str] = []
        name = self._current_manifest_name()
        while name is not None:
            m = self._load_manifest(name)
            snap = m["tables"].get(table)
            if snap and (not out or out[-1] != snap):
                out.append(snap)
            name = m["parent"]
        return out

    def expire_snapshots(self, table: str, keep_last: int = 1) -> list[str]:
        """Delete superseded snapshot dirs beyond the newest ``keep_last``
        (current is always kept).  Hardlinked files shared with retained
        snapshots survive — the filesystem refcounts them.

        Retention rule (same as Iceberg's expire_snapshots): a reader that
        resolved a snapshot path before a commit keeps reading that
        snapshot; expiring it mid-read breaks the reader.  Size
        ``keep_last`` to cover the longest-running query against this
        table (compact()'s default keep_last=1 assumes the maintenance
        window has no concurrent readers of pre-compaction snapshots)."""
        history = self.snapshots(table)
        expired = []
        for snap in history[max(1, keep_last):]:
            p = os.path.join(self.warehouse, snap)
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
                expired.append(snap)
        return expired

    def vacuum(self, table: str, grace_secs: float = 24 * 3600) -> list[str]:
        """Remove snapshot dirs not referenced by any committed manifest —
        the leftovers of staged-then-killed writes.

        ``grace_secs``: unreferenced dirs younger than this (by mtime) are
        kept — a writer that is BETWEEN stage_append and commit has a
        staged-but-unreferenced snapshot, and deleting it would let the
        imminent commit publish a manifest pointing at nothing (the same
        race Iceberg's remove_orphan_files guards with a default age
        threshold).  Pass 0 only when no writer can be in flight."""
        now = time.time()
        referenced = set(self.snapshots(table))
        removed = []
        root = self.path(table)
        if not os.path.isdir(root):
            return removed
        for entry in os.listdir(root):
            rel = f"{table}/{entry}"
            if entry.startswith("snap-") and rel not in referenced:
                full = os.path.join(root, entry)
                try:
                    if now - os.path.getmtime(full) < grace_secs:
                        continue
                except OSError:
                    continue  # raced with a concurrent delete
                shutil.rmtree(full, ignore_errors=True)
                removed.append(rel)
        return removed

    def compact(
        self,
        table: str,
        target_file_bytes: int = 128 * 1024 * 1024,
        partition_by: list[str] | None = None,
        sort_within_by: list[str] | None = None,
        expire: bool = True,
    ) -> dict:
        """Small-file compaction — the maintenance pass an incremental
        append table needs: every resumed run appends its own files, and
        at 10^12 turns a scan's task count (and the namenode/manifest
        load) is driven by FILE count, not data size.

        Rewrites the table at ≈``target_file_bytes`` per file (computed
        from the current snapshot's actual on-disk size), optionally
        re-establishing partition dirs and an intra-file sort
        (``sort_within_by`` — e.g. conv_id, turn_idx — so downstream
        conversation windows read clustered data).  The rewrite is a new
        snapshot + pointer swap: readers see the old table until the
        commit instant and the new one after — never a missing or
        half-compacted table, and a kill leaves the old snapshot current.
        ``expire=True`` drops the superseded snapshots afterwards (the
        compacted data is identical, so history adds nothing).  Iceberg
        twin: ``rewrite_data_files`` + ``expire_snapshots``."""
        import math

        files = self.files(table)
        n_files = len(files)
        total_bytes = sum(os.path.getsize(f) for f in files)
        target = max(1, math.ceil(total_bytes / target_file_bytes))
        # merge_schema: an evolved table's snapshot holds files of mixed
        # shapes — the compaction rewrite must carry the UNION schema, and
        # afterwards plain reads see it without the flag
        df = self.read(table, merge_schema=True)
        if sort_within_by:
            df = df.repartition(target).sortWithinPartitions(*sort_within_by)
        else:
            df = df.coalesce(target) if target < n_files else df.repartition(target)
        self.overwrite(df, table, partition_by=partition_by)
        if expire:
            self.expire_snapshots(table, keep_last=1)
        return {"files_before": n_files, "files_after": len(self.files(table)),
                "bytes": total_bytes}

    # -- bucketed tables (co-located joins) --------------------------------
    #
    # The Iceberg production design buckets transcripts on conv_id
    # (``bucket(N, conv_id)``) so conversation-grained joins/aggregations
    # are ALREADY co-partitioned and need no exchange.  The Parquet
    # fallback reaches the same plan through Spark's managed-table
    # bucketing: two tables bucketed (same column, same count) hash-join
    # with ZERO Exchange on either side — at 100 TB that deletes the two
    # largest shuffles of a resume-join or conversation-merge pipeline.
    # Bucketed writes must go through saveAsTable (bucket metadata lives
    # in the session catalog), hence the separate API from append().

    def write_bucketed(
        self,
        df: DataFrame,
        table: str,
        bucket_col: str,
        n_buckets: int = 16,
        sort_col: str | None = None,
    ) -> None:
        """Overwrite ``table`` as a bucketed managed table.  ``sort_col``
        additionally sorts within buckets (sort-merge joins then skip the
        sort too)."""
        w = df.write.mode("overwrite").format("parquet").bucketBy(
            n_buckets, bucket_col
        )
        if sort_col is not None:
            w = w.sortBy(sort_col)
        w.option("path", self.path(table)).saveAsTable(table)

    def read_bucketed(self, table: str) -> DataFrame:
        """Read via the session catalog so the bucketing spec is visible
        to the planner (a plain ``read.parquet`` of the same files would
        lose it and reintroduce the shuffle)."""
        return self.spark.table(table)

    # -- incremental consumption -------------------------------------------
    def read_incremental(
        self, table: str, since_snapshot: str, allow_rewrite: bool = False
    ) -> DataFrame:
        """Rows added to ``table`` AFTER ``since_snapshot`` — the
        CDC-style "what's new since my last run" read that pairs with the
        incremental operators (`minhash_incremental_pairs` dedups exactly
        this delta against history).

        Works because appends carry prior files forward as HARDLINKS with
        unchanged relative paths: the delta is the set difference of data
        file paths between the current snapshot and ``since_snapshot`` —
        metadata-only planning, and the read scans ONLY the new files
        (O(delta), not O(table)).

        A compact()/overwrite between the two snapshots rewrites files,
        so the path diff would misreport rewritten history as new rows;
        that surfaces as old files missing from the current snapshot and
        raises unless ``allow_rewrite=True`` (which then returns all
        current files absent from the old snapshot — correct for
        "changed or added" semantics, wrong for pure appends).  An
        EXPIRED ``since_snapshot`` raises: its file inventory is gone,
        fall back to a full read."""
        cur = self.current_tables().get(table)
        if cur is None:
            raise KeyError(f"no committed table {table!r}")
        since = self._snapshot_rel(table, since_snapshot)

        def data_files(rel: str) -> set[str]:
            base = os.path.join(self.warehouse, rel)
            if not os.path.isdir(base):
                raise FileNotFoundError(
                    f"snapshot {rel!r} not on disk (expired?); "
                    "incremental read impossible — do a full read"
                )
            return set(self._files(base))

        cur_files = data_files(cur)
        old_files = data_files(since)
        if not old_files <= cur_files and not allow_rewrite:
            raise RuntimeError(
                f"{len(old_files - cur_files)} files of {since!r} are "
                f"absent from the current snapshot — a compaction or "
                "overwrite happened in between; the path diff is not an "
                "append delta (allow_rewrite=True to read it anyway)"
            )
        new = sorted(cur_files - old_files)
        if not new:
            return self.read(table).limit(0)
        base = os.path.join(self.warehouse, cur)
        return self.spark.read.parquet(*[os.path.join(base, f) for f in new])

    def merge_upsert(
        self,
        df: DataFrame,
        table: str,
        key_cols: list[str],
        partition_by: list[str] | None = None,
        validate_unique: bool = True,
    ) -> None:
        """Keyed MERGE (Iceberg ``MERGE INTO t USING s ON keys WHEN
        MATCHED THEN UPDATE * WHEN NOT MATCHED THEN INSERT *``): rows of
        ``df`` REPLACE current rows sharing their key, everything else is
        inserted — the idempotent-ingest primitive (re-running a
        corrected extraction batch must update, not duplicate).

        Copy-on-write: survivors = current ⟨left_anti on keys⟩ source,
        unioned with the source and staged as one new snapshot — the
        whole merge publishes in ONE atomic commit, so readers see either
        the pre-merge or the post-merge table, never a mix, and time
        travel to the pre-merge snapshot still works.  The anti-join is
        declarative — AQE broadcasts the source keys when the batch is
        small (the common case) and shuffle-joins when it is not.  The
        optimistic-concurrency base is captured at READ time — the
        snapshot the merged frame was actually computed from — not at
        stage time, so a writer landing anywhere in the read→commit
        window surfaces as CommitConflictError (re-run the merge from
        the new current), never as lost updates.  Schema evolution rides
        the union: source-added columns surface as nulls on pre-merge
        rows.

        At 10^12 turns this COW form rewrites the table's data files; the
        hardlink `append` stays the right tool for pure inserts, and
        partition ``drop_partition_dirs`` + append covers
        partition-replace.  A merge-on-read (delete files + read-time
        anti-join) is a catalog-format feature out of scope here.

        ``validate_unique`` (one cheap agg over the SOURCE batch) raises
        when ``df`` carries duplicate keys — Iceberg rejects multi-row
        matches for the same reason: "both rows win" is not a meaning."""
        if validate_unique:
            dup = (
                df.groupBy(*key_cols)
                .agg(F.count(F.lit(1)).alias("_n"))
                .filter(F.col("_n") > 1)
                .limit(1)
                .collect()
            )
            if dup:
                key = {c: dup[0][c] for c in key_cols}
                raise ValueError(
                    f"merge_upsert source has duplicate key {key}; "
                    "dedupe the batch or define a precedence upstream"
                )
        if not self.exists(table):
            self.overwrite(df, table, partition_by)
            return
        base = self.current_tables().get(table)
        current = self.read(table, merge_schema=True)
        survivors = current.join(
            df.select(*key_cols).distinct(), key_cols, "left_anti"
        )
        merged = survivors.unionByName(df, allowMissingColumns=True)
        self._commit_cow(merged, table, base, partition_by)

    def _current_partition_cols(self, table: str) -> list[str]:
        """Partition columns of the CURRENT snapshot: the ``col=value`` dirs
        in the relpath of any of its data files (the catalog keeps no
        layout metadata; the layout IS the directories)."""
        rel = self.current_tables().get(table)
        first = next(self._files(os.path.join(self.warehouse, rel)), "") if rel else ""
        return [p.split("=", 1)[0] for p in first.split(os.sep)[:-1] if "=" in p]

    def _commit_cow(
        self,
        merged: DataFrame,
        table: str,
        base: str | None,
        partition_by: list[str] | None,
    ) -> None:
        """Shared copy-on-write publish for the merge primitives: stage
        the rewritten table, pin the base to the snapshot the frame was
        COMPUTED from (read time — `stage_overwrite` records the current
        snapshot at stage time, which would let a commit landing in the
        read→stage window pass validation and be silently overwritten),
        and preserve the table's existing hive layout when the caller
        does not re-state ``partition_by`` (a COW rewrite that silently
        de-partitions a partitioned table costs every later read its
        partition pruning)."""
        if partition_by is None:
            partition_by = self._current_partition_cols(table) or None
        rel = self.stage_overwrite(merged, table, partition_by)
        self._staged_bases[rel] = base
        self.commit({table: rel})

    def merge_delete(
        self,
        keys: DataFrame,
        table: str,
        key_cols: list[str],
        partition_by: list[str] | None = None,
    ) -> None:
        """Keyed DELETE (``MERGE … WHEN MATCHED THEN DELETE`` /
        ``DELETE WHERE key IN …``): drop every current row whose key
        appears in ``keys`` — the right-to-be-forgotten / bad-batch-
        retraction primitive.  Same copy-on-write single-commit shape as
        `merge_upsert`; deleting from a missing table is a no-op."""
        if not self.exists(table):
            return
        base = self.current_tables().get(table)
        survivors = self.read(table, merge_schema=True).join(
            keys.select(*key_cols).distinct(), key_cols, "left_anti"
        )
        self._commit_cow(survivors, table, base, partition_by)

    def diff_snapshots(
        self,
        table: str,
        base_snapshot: str,
        target_snapshot: str | None = None,
        key_cols: list[str] | None = None,
    ) -> DataFrame:
        """Row-level diff between two snapshots of a table — the audit
        read `read_incremental` cannot serve: the path-diff CDC sees
        only pure appends, while this compares CONTENTS, so it stays
        correct across MERGE/overwrite/compact rewrites and also
        reports deletions.  ``target_snapshot=None`` diffs against the
        current snapshot.

        With ``key_cols``: full outer join on the keys; a key present
        only in target is ``added``, only in base ``removed``, in both
        with any non-key column differing (null-safe struct equality)
        ``changed``.  Without keys: whole rows are the identity —
        set-difference semantics, ``added``/``removed`` only.
        Unchanged rows are filtered out (the diff of a 10^12-row table
        should cost its DELTA in output, not its size; the joins remain
        O(both snapshots) scans, which is what a content diff means —
        run it per partition/bucket at scale).

        Both snapshots are compared under their union schema: a column
        one side lacks reads as null there, so an added column changes
        (keyed) or re-identifies (keyless) only the rows holding a value
        in it.

        Returns key columns (or all columns when keyless) + ``status``.
        Snapshot ids are accepted in either form `read` takes — bare
        ``snap-…`` or the ``table/snap-…`` relpath `current_tables()`
        returns.
        """
        b = self.read(table, snapshot=base_snapshot, merge_schema=True)
        t = self.read(table, snapshot=target_snapshot, merge_schema=True)
        # union schema: target's column order, then base-only columns
        cols = t.columns + [c for c in b.columns if c not in t.columns]
        types = {f.name: f.dataType for f in (*b.schema, *t.schema)}

        def _aligned(df: DataFrame) -> DataFrame:
            return df.select(*(
                F.col(c) if c in df.columns else F.lit(None).cast(types[c]).alias(c)
                for c in cols
            ))

        b, t = _aligned(b), _aligned(t)
        if key_cols is None:
            added = t.exceptAll(b).select(*cols, F.lit("added").alias("status"))
            removed = b.exceptAll(t).select(*cols, F.lit("removed").alias("status"))
            return added.unionByName(removed)
        nonkey = [c for c in cols if c not in key_cols]
        bs = b.select(
            *key_cols, F.struct(*nonkey).alias("_bv"), F.lit(True).alias("_b")
        )
        ts = t.select(
            *key_cols, F.struct(*nonkey).alias("_tv"), F.lit(True).alias("_t")
        )
        j = bs.join(ts, key_cols, "full")
        status = (
            F.when(F.col("_b").isNull(), F.lit("added"))
            .when(F.col("_t").isNull(), F.lit("removed"))
            .when(~F.col("_bv").eqNullSafe(F.col("_tv")), F.lit("changed"))
            .otherwise(F.lit("unchanged"))
        )
        return (
            j.withColumn("status", status)
            .filter(F.col("status") != "unchanged")
            .select(*key_cols, "status")
        )
