"""Iceberg-style table IO shim: parquet + JSON manifest.

The sandbox has no network and no iceberg-spark-runtime jar, so this module
provides the same *interface* an Iceberg catalog would (SURVEY.md §7
resolved decisions): append-only writes, a monotonically increasing
snapshot id, committed-work tracking for resume, and an append-only metrics
(lineage) table. If the Iceberg runtime is ever on the classpath,
`ExtractTable.append_extracted`/`read_snapshot` can be pointed at
`format("iceberg")` without touching the pipeline code.
"""

from __future__ import annotations

import fcntl
import json
import os
import time
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


class ConcurrentCommitError(RuntimeError):
    """Another writer committed since this writer read the table head
    (optimistic concurrency, Iceberg-style). Retry: re-read the head,
    anti-join committed work, commit the remainder."""


class ExtractTable:
    """An output 'table' rooted at a directory: extracted/ lineage/ manifest.json."""

    def __init__(self, root: str):
        self.root = root
        self.extracted_dir = os.path.join(root, "extracted")
        self.lineage_dir = os.path.join(root, "lineage")
        self.manifest_path = os.path.join(root, "manifest.json")

    # -- manifest ----------------------------------------------------------
    def manifest(self) -> dict:
        if os.path.exists(self.manifest_path):
            with open(self.manifest_path) as f:
                return json.load(f)
        return {"snapshots": []}

    def new_run_id(self) -> str:
        return uuid.uuid4().hex[:12]

    @contextmanager
    def _manifest_lock(self):
        """Mutual exclusion for manifest read-check-replace sequences.

        Optimistic concurrency alone (read head, check, os.replace) has a
        race: two writers can both read the same head, both pass the
        expect_snapshot check, and the SECOND os.replace silently discards
        the first writer's committed snapshot. flock makes the sequence a
        true compare-and-swap; the OS releases the lock on process death,
        so there is no stale-lockfile failure mode. (A real Iceberg
        catalog provides this CAS via the metastore/REST atomic swap.)"""
        os.makedirs(self.root, exist_ok=True)
        fh = open(os.path.join(self.root, ".manifest.lock"), "a+")
        try:
            fcntl.flock(fh.fileno(), fcntl.LOCK_EX)
            yield
        finally:
            fcntl.flock(fh.fileno(), fcntl.LOCK_UN)
            fh.close()

    def _write_manifest(self, m: dict) -> None:
        tmp = self.manifest_path + f".tmp.{os.getpid()}.{uuid.uuid4().hex[:6]}"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=2)
        os.replace(tmp, self.manifest_path)

    def commit(self, run_id: str, stats: dict,
               expect_snapshot: int | None = None) -> int:
        """Append a snapshot entry; returns the new snapshot id.

        `expect_snapshot` is optimistic concurrency control (Iceberg's
        commit model): the commit succeeds only if the table head is
        still the snapshot the writer based its work on; otherwise
        ConcurrentCommitError — the loser's already-written data files
        stay orphaned and INVISIBLE (never in any manifest), so a retry
        re-reads the new head and re-commits the same files (or re-runs
        only the remaining work via the resume anti-join). The whole
        read-check-replace runs under the manifest flock, so the check
        is a real CAS, not best-effort."""
        with self._manifest_lock():
            m = self.manifest()
            head = m["snapshots"][-1]["snapshot_id"] if m["snapshots"] else 0
            if expect_snapshot is not None and head != expect_snapshot:
                raise ConcurrentCommitError(
                    f"table advanced to snapshot {head} (expected "
                    f"{expect_snapshot}); re-read and retry"
                )
            # head + 1, NOT len(snapshots) + 1: expire_snapshots trims old
            # manifest entries, and ids must stay monotone across expiry or
            # time travel and resume ordering break
            snap_id = head + 1
            m["snapshots"].append(
                {
                    "snapshot_id": snap_id,
                    "run_id": run_id,
                    "committed_at_unix": time.time(),
                    **stats,
                }
            )
            self._write_manifest(m)
        return snap_id

    def current_snapshot(self) -> int:
        snaps = self.manifest()["snapshots"]
        return snaps[-1]["snapshot_id"] if snaps else 0

    # -- data --------------------------------------------------------------
    def _data_files(self) -> set[str]:
        """All parquet files under extracted/, as extracted/-relative
        paths (each write lands in its own `w-<uuid>/` subdir)."""
        if not os.path.isdir(self.extracted_dir):
            return set()
        out: set[str] = set()
        for dirpath, _dirs, files in os.walk(self.extracted_dir):
            rel = os.path.relpath(dirpath, self.extracted_dir)
            for f in files:
                if f.endswith(".parquet"):
                    out.add(f if rel == "." else os.path.join(rel, f))
        return out

    def has_data(self) -> bool:
        return bool(self._data_files())

    def _files_as_of(self, snapshot_id: int | None = None) -> list[str]:
        """Data files visible at `snapshot_id` (default head), honoring
        replace semantics: an "operation": "replace" snapshot (compaction)
        carries the COMPLETE file list and supersedes everything before
        it; plain appends accumulate. Mirrors how an Iceberg snapshot's
        manifest list fully describes the table state."""
        files: list[str] = []
        for s in self.manifest()["snapshots"]:
            if snapshot_id is not None and s["snapshot_id"] > snapshot_id:
                break
            if s.get("operation") == "replace":
                files = list(s.get("data_files", []))
            else:
                files.extend(s.get("data_files", []))
        return [os.path.join(self.extracted_dir, f) for f in files]

    def committed_doc_ids(self, spark: SparkSession) -> DataFrame | None:
        """doc_ids already COMMITTED — reads only files recorded in the
        manifest (an orphaned write from a crashed run is invisible, like
        Iceberg's uncommitted data files), and only the doc_id column
        (pruned scan), feeding the resume anti-join (north_rule)."""
        files = self._files_as_of()
        if not files:
            return None
        return spark.read.parquet(*files).select("doc_id")

    def _write_data(self, df: DataFrame) -> list[str]:
        """Write df into its own `extracted/w-<uuid>/` directory and
        return the written files (extracted/-relative paths). The new
        files are identified FROM THE WRITE ITSELF — never by diffing
        the directory listing, which would absorb files a concurrent
        writer drops into extracted/ mid-write (they would then be
        claimed by two snapshots and double-counted)."""
        sub = f"w-{uuid.uuid4().hex[:12]}"
        target = os.path.join(self.extracted_dir, sub)
        df.write.parquet(target)  # fresh dir: default errorifexists is safe
        return sorted(
            os.path.join(sub, f)
            for f in os.listdir(target)
            if f.endswith(".parquet")
        )

    def append_extracted(self, df: DataFrame) -> list[str]:
        """Append; returns the NEW data files (for the snapshot manifest)."""
        return self._write_data(df)

    def read_snapshot(
        self,
        spark: SparkSession,
        snapshot_id: int | None = None,
        merge_schema: bool = False,
    ) -> DataFrame:
        """Time travel: read the table as of `snapshot_id` (default: head) —
        the union of data files committed by snapshots <= id.

        `merge_schema=True` reconciles files written under different
        schema versions (Iceberg-style additive evolution: a later run
        appends files with an extra column; old files surface it as
        NULL). Off by default — the merged-footer scan reads every file's
        footer, which a fixed-schema read shouldn't pay."""
        files = self._files_as_of(snapshot_id)
        if not files:
            raise ValueError(f"no committed data at snapshot {snapshot_id}")
        reader = spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        return reader.parquet(*files)

    def append_lineage(self, df: DataFrame) -> None:
        df.write.mode("append").parquet(self.lineage_dir)

    def read_changes(
        self, spark: SparkSession, since_snapshot: int,
        merge_schema: bool = False,
    ) -> DataFrame:
        """Incremental scan (Iceberg's incremental append scan): rows
        APPENDED strictly after `since_snapshot`, i.e. the data files of
        later append snapshots only — what a downstream incremental
        consumer (index refresh, CDC-ish export) reads instead of
        re-scanning the table. Raises on a replace (compaction) snapshot
        inside the range: a rewrite has no well-defined append delta, so
        consumers must either catch up from before it via time travel or
        restart from the compacted state — the same contract Iceberg's
        incremental scan enforces."""
        snaps = [
            s for s in self.manifest()["snapshots"]
            if s["snapshot_id"] > since_snapshot
        ]
        if any(s.get("operation") == "replace" for s in snaps):
            raise ValueError(
                f"incremental read across a replace snapshot: range after "
                f"{since_snapshot} contains a compaction; re-baseline from "
                f"the replace snapshot instead"
            )
        files = [
            os.path.join(self.extracted_dir, f)
            for s in snaps
            for f in s.get("data_files", [])
        ]
        if not files:
            return self.read_snapshot(spark).limit(0)  # empty, same schema
        reader = spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        return reader.parquet(*files)

    # -- maintenance ---------------------------------------------------------
    def compact(
        self, spark: SparkSession, target_file_mb: int = 128
    ) -> dict:
        """Small-file compaction (Iceberg's rewrite_data_files): rewrite
        the HEAD snapshot's data into ~target_file_mb files and commit the
        result as a "replace" snapshot carrying the complete new file
        list. Every incremental extract run appends a few files per
        partition; at 10^12 docs that becomes millions of small parquet
        files whose open/footer cost dominates scans — compaction is the
        maintenance pass that keeps read amortization flat. Old files
        stay on disk so earlier snapshots still time-travel (run
        expire_snapshots to reclaim them)."""
        head = self.current_snapshot()
        files = self._files_as_of(head)
        if not files:
            raise ValueError("nothing to compact: no committed data")
        total_b = sum(os.path.getsize(f) for f in files)
        n_out = max(1, round(total_b / (target_file_mb * 1024 * 1024)))
        # mergeSchema: the head may span files written under different
        # (additively evolved) schemas; a plain read would pick one
        # footer's schema and silently DROP evolved columns from the
        # rewritten files. Compaction is a one-off maintenance job, so
        # the merged-footer scan cost is the right trade.
        df = spark.read.option("mergeSchema", "true").parquet(*files)
        # repartition (not coalesce): coalesce would chain the tiny input
        # splits into uneven tasks; a compaction job wants evenly-sized
        # outputs, and pays its one shuffle by design
        new_files = self._write_data(df.repartition(n_out))
        # expect_snapshot=head: a compaction REPLACES the head state, so
        # an append committed after we read `head` must win — our replace
        # snapshot would silently swallow its rows otherwise. On the race
        # we raise ConcurrentCommitError; the rewritten files stay
        # orphaned-invisible and the caller simply re-runs compact()
        # against the new head.
        snap = self.commit(
            self.new_run_id(),
            {
                "operation": "replace",
                "data_files": new_files,
                "compacted_files": len(files),
                "bytes": total_b,
            },
            expect_snapshot=head,
        )
        return {
            "snapshot_id": snap,
            "files_before": len(files),
            "files_after": len(new_files),
        }

    def rollback(self, snapshot_id: int) -> dict:
        """Iceberg's rollback_to_snapshot: append a NEW "replace"
        snapshot whose complete file list reproduces the table state as
        of `snapshot_id`. Non-destructive — every later snapshot stays
        readable for time travel until expire_snapshots reclaims it —
        and the resume anti-join immediately sees the rolled-back doc
        set, so re-running extract refills exactly the undone work.
        Runs under the manifest lock (a real CAS against concurrent
        commits, like every other manifest rewrite)."""
        with self._manifest_lock():
            m = self.manifest()
            ids = [s["snapshot_id"] for s in m["snapshots"]]
            if snapshot_id not in ids:
                raise ValueError(
                    f"snapshot {snapshot_id} not in table history {ids}"
                )
            state = sorted(
                os.path.relpath(p, self.extracted_dir)
                for p in self._files_as_of(snapshot_id)
            )
            head = ids[-1]
            if head == snapshot_id:
                return {"snapshot_id": head, "rolled_back_to": snapshot_id,
                        "noop": True}
            new_id = head + 1
            m["snapshots"].append(
                {
                    "snapshot_id": new_id,
                    "run_id": f"rollback-to-{snapshot_id}",
                    "committed_at_unix": time.time(),
                    "operation": "replace",
                    "rolled_back_to": snapshot_id,
                    "data_files": state,
                }
            )
            self._write_manifest(m)
        return {"snapshot_id": new_id, "rolled_back_to": snapshot_id,
                "data_files": len(state)}

    def expire_snapshots(self, keep_last: int = 1) -> dict:
        """Iceberg's expire_snapshots: drop all but the newest
        `keep_last` snapshot entries and DELETE data files referenced by
        an EXPIRED snapshot but no retained one (respecting replace
        semantics, so a retained appends-after-compaction chain keeps
        the files it builds on). Files the manifest has never heard of —
        the in-flight write of a concurrent job, or the orphans of an
        OCC-losing writer whose documented retry path re-commits those
        very files — are NOT touched: expiry reclaims only history it
        owns (Iceberg's contract); unknown files belong to the separate
        age-gated :meth:`remove_orphans`. Time travel before the horizon
        stops working — that's what makes storage reclaimable. Runs
        under the manifest lock so a concurrent commit can't be trimmed
        away by the rewrite."""
        with self._manifest_lock():
            m = self.manifest()
            snaps = m["snapshots"]
            if keep_last < 1 or len(snaps) <= keep_last:
                return {"expired": 0, "deleted_files": 0}
            kept = snaps[-keep_last:]
            expired = snaps[:-keep_last]
            # full readable state per id, computed BEFORE the trim
            retained_refs: set[str] = set()
            for s in kept:
                retained_refs.update(self._files_as_of(s["snapshot_id"]))
            expired_refs: set[str] = set()
            for s in expired:
                expired_refs.update(self._files_as_of(s["snapshot_id"]))
            # the oldest kept snapshot must become self-contained: if it
            # was a plain append, its base files' snapshots are being
            # dropped, so rewrite it as a "replace" entry carrying its
            # complete state (exactly how an Iceberg snapshot's manifest
            # list is always self-describing)
            horizon_state = sorted(
                os.path.relpath(p, self.extracted_dir)
                for p in self._files_as_of(kept[0]["snapshot_id"])
            )
            kept[0] = {**kept[0], "operation": "replace", "data_files": horizon_state}
            deleted = 0
            for path in sorted(expired_refs - retained_refs):
                if os.path.exists(path):
                    os.remove(path)
                    deleted += 1
            self._prune_empty_write_dirs()
            m["snapshots"] = kept
            self._write_manifest(m)
            return {"expired": len(expired), "deleted_files": deleted}

    def remove_orphans(self, older_than_s: float = 3 * 86400.0) -> dict:
        """Iceberg's remove_orphan_files: delete data files referenced by
        NO manifest snapshot and older than `older_than_s` (mtime). The
        age gate is the whole point — a young orphan may be a concurrent
        writer's in-flight output or an OCC loser about to re-commit the
        same files; only files old enough that no live writer can still
        claim them are reclaimed."""
        with self._manifest_lock():
            referenced: set[str] = set()
            for s in self.manifest()["snapshots"]:
                referenced.update(self._files_as_of(s["snapshot_id"]))
            now = time.time()
            deleted = 0
            for f in sorted(self._data_files()):
                path = os.path.join(self.extracted_dir, f)
                if path not in referenced and now - os.path.getmtime(path) > older_than_s:
                    os.remove(path)
                    deleted += 1
            self._prune_empty_write_dirs()
            return {"deleted_files": deleted}

    def _prune_empty_write_dirs(self) -> None:
        if not os.path.isdir(self.extracted_dir):
            return
        for d in os.listdir(self.extracted_dir):
            p = os.path.join(self.extracted_dir, d)
            if os.path.isdir(p) and not any(
                f.endswith(".parquet") for f in os.listdir(p)
            ):
                for leftover in os.listdir(p):  # _SUCCESS, .crc markers
                    os.remove(os.path.join(p, leftover))
                os.rmdir(p)
