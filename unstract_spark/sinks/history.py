"""File-history ledger — the dedup/result-cache table (F2 write side).

Reference: FileHistory rows keyed by content hash + path, status-gated
replay of cached results (workflow_v2/models/file_history.py:14-54;
replay destination.py:593-612).

Two storage backends behind one upsert-only API (the contract is a
Delta `MERGE ... WHEN MATCHED UPDATE WHEN NOT MATCHED INSERT` keyed on
(cache_key, workflow_id, file_path)):

- `backend="swap"` (default): plain parquet + atomic directory swap,
  writers serialized by LedgerLock — single-node/NFS honest.
- `backend="manifest"`: the transactional log of sinks/manifest.py —
  lock-FREE optimistic commits (put-if-absent manifest files, Delta's
  own protocol), snapshot-isolated readers, crash-orphans invisible.
  This is the cluster story; LedgerLock is not used on this path.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from unstract_spark.schemas import FILE_HISTORY
from unstract_spark.session import empty_frame
from unstract_spark.sinks.ledger_lock import LedgerLock
from unstract_spark.sinks.manifest import ManifestTable

MERGE_KEYS = ["cache_key", "workflow_id", "file_path"]


def _newest_per_key(df: DataFrame) -> DataFrame:
    """MERGE semantics shared by both backends: per-key window dedup,
    the row with the highest `_seq` (the later write) winning."""
    w = Window.partitionBy(*MERGE_KEYS).orderBy(F.col("_seq").desc())
    return df.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1").drop("_rn", "_seq")


STATS_TABLE = "file_history"
STATS_COLUMN = "cache_key"


class FileHistoryStore:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        backend="swap",
        stats=None,
        broadcast_threshold_bytes: int = 64 << 20,
        skew_threshold_ppm: int = 100_000,
    ):
        """`backend`: "swap", "manifest" (POSIX put-if-absent), or a
        `manifest.CommitBackend` instance (manifest protocol over a
        pluggable commit log — e.g. an object store's conditional
        PUT).

        `stats`: an optional `stats_store.TableStatsStore`. When set,
        merge() re-ANALYZEs the ledger's key column after each commit
        (the write side pays the scan so every read-side plan is
        free), and dedup_catalog()/replay_results() consult the
        persisted stats to pick broadcast / hot-key-split / shuffle
        (stats_store.plan_against_unknown — the catalog side is a
        per-run frame with no stats, so only the ledger side is
        priced). Without stats — or before the first analyzed merge —
        the joins take Spark's default plan, unchanged."""
        from unstract_spark.sinks.manifest import CommitBackend

        self.spark = spark
        self.path = path
        self.stats = stats
        self._bc_bytes = broadcast_threshold_bytes
        self._skew_ppm = skew_threshold_ppm
        if isinstance(backend, CommitBackend):
            self._manifest = ManifestTable(spark, path, commit_backend=backend)
        elif backend == "manifest":
            self._manifest = ManifestTable(spark, path)
        elif backend == "swap":
            self._manifest = None
        else:
            raise ValueError(f"unknown ledger backend {backend!r}")

    def read(self) -> DataFrame:
        """Snapshot read. Swap backend: localCheckpoint pins the
        contents so a subsequent merge()'s directory swap can't
        invalidate open lineages. Manifest backend: segments are
        immutable, so the snapshot is stable with no materialization;
        upserts resolve here by newest-wins dedup-on-read over the
        segment commit order (the LSM read path; compact() folds the
        window cost back down)."""
        if self._manifest is not None:
            return _newest_per_key(self._manifest.snapshot_with_seq(FILE_HISTORY)[1])
        return self._read_swap(pin=True)

    def _read_swap(self, pin: bool) -> DataFrame:
        """The swap backend's table. The schema is given, not inferred
        (merge() writes exactly FILE_HISTORY), so no footer-reading job
        runs; a missing ledger stays a visible-empty frame, which a
        checkpoint would hide from Catalyst. Unpinned, the frame is only
        valid until the next merge swaps the directory."""
        if not os.path.exists(self.path):
            return empty_frame(self.spark, FILE_HISTORY)
        df = self.spark.read.schema(FILE_HISTORY).parquet(self.path)
        return df.localCheckpoint(eager=True) if pin else df

    def merge(self, updates: DataFrame) -> None:
        """Upsert: newest row per merge key wins.

        Swap backend: read-modify-swap under LedgerLock (two unlocked
        writers would base on the same snapshot and drop each other's
        rows) — O(table) per merge. Manifest backend: lock-free
        transactional APPEND of just the update segment — O(updates)
        per merge, the only write cost a 100 TB ledger can afford for
        a 200-row batch; precedence is resolved at read time. A batch
        with internal duplicate keys keeps an arbitrary one — the same
        contract the swap path's newest-per-key window gives. The swap
        ledger holds exactly the FILE_HISTORY columns and types.
        """
        if self._manifest is not None:
            self._manifest.append(updates)
            self._analyze()
            return
        with LedgerLock(self.path):
            # unpinned: the write consumes the whole table before the swap
            merged = self._read_swap(pin=False).withColumn("_seq", F.lit(0)).unionByName(
                updates.withColumn("_seq", F.lit(1)), allowMissingColumns=True
            )
            deduped = _newest_per_key(merged).select(
                *[F.col(f.name).cast(f.dataType) for f in FILE_HISTORY.fields]
            )
            staging = f"{self.path}.staging-{int(time.time() * 1000)}"
            deduped.write.mode("overwrite").parquet(staging)
            old = f"{self.path}.old-{int(time.time() * 1000)}"
            if os.path.exists(self.path):
                os.rename(self.path, old)
            os.rename(staging, self.path)
            if os.path.exists(old):
                shutil.rmtree(old, ignore_errors=True)
        self._analyze()

    def _analyze(self) -> None:
        """ANALYZE-on-write: refresh the ledger's persisted stats so
        the NEXT run's joins are priced from disk with zero read-side
        scans. A pass per analyzed column over the just-committed
        table — the offline cost the stats store's contract budgets
        for. The payload columns (file_path/result/metadata) are
        analyzed alongside the key so the replay join's execution
        repricing (stats_store.apply_using_join, r12 verdict #2) sees
        REAL widths for the rows it would broadcast — a ledger with
        8-byte hashes and 100 KB results must price broadcasts by the
        results, not the hashes."""
        if self.stats is not None:
            self.stats.analyze(
                self.read(),
                STATS_TABLE,
                [STATS_COLUMN, "file_path", "result", "metadata"],
            )

    def _join_plan(self):
        """The priced plan for joining the ledger's key side, or None
        when no stats are configured/persisted yet (default plan)."""
        if self.stats is None or not self.stats.has_stats(
            STATS_TABLE, STATS_COLUMN
        ):
            return None
        return self.stats.plan_against_unknown(
            STATS_TABLE,
            STATS_COLUMN,
            broadcast_threshold_bytes=self._bc_bytes,
            skew_threshold_ppm=self._skew_ppm,
        )

    def compact(self) -> bool:
        """Manifest backend maintenance: fold all segments into one
        (the resolved newest-wins view), bounding the read window and
        vacuum-able garbage. No-op on the swap backend (always one
        'segment'). Returns True if the compaction committed; False
        means a concurrent append won the version — the appended rows
        are preserved and compaction should simply be retried later.

        The vacuum after a successful commit is safe for concurrent
        readers regardless of segment age: try_commit stamps superseded
        segments with the supersession time, so min_age_s measures time
        since DEREFERENCE, not since the segment was written."""
        if self._manifest is None:
            return True
        v, df = self._manifest.snapshot_with_seq(FILE_HISTORY)
        ok = self._manifest.compact(_newest_per_key(df), base_version=v)
        if ok:
            self._manifest.vacuum()
        return ok

    def completed(self) -> DataFrame:
        """Rows eligible for dedup/replay (status gate, file_history.py:21).
        One call is one snapshot: pass the same frame to dedup_catalog()
        and replay_results() so a merge landing between the two cannot
        put a file in both `fresh` and `skipped`, or in neither."""
        return self.read().filter(F.col("status") == "COMPLETED")

    def dedup_catalog(
        self, files: DataFrame, completed: DataFrame | None = None
    ) -> DataFrame:
        """F2: drop catalog rows already COMPLETED (left_anti) in the
        `completed()` snapshot (a fresh one when None). With a
        configured stats store the join shape is the stats-priced one
        (broadcast the ledger when its persisted size bound fits; split
        around its stored hot keys when a content hash dominates —
        e.g. one boilerplate document uploaded a million times; plain
        shuffle otherwise); the row multiset is identical either way."""
        return self._join_history(files, completed, [], "left_anti")

    def replay_results(
        self, files: DataFrame, completed: DataFrame | None = None
    ) -> DataFrame:
        """Cached results for catalog rows that hit history (the replay
        path, destination.py:593-612): inner join on hash+path against
        the `completed()` snapshot (a fresh one when None), priced like
        dedup_catalog. The file bytes (`content`) are dropped: a cache
        hit needs its result, not its input."""
        return self._join_history(
            files.drop("content"), completed, ["result", "metadata"], "inner"
        )

    def _join_history(
        self, files: DataFrame, completed: DataFrame | None, payload: list[str], how: str
    ) -> DataFrame:
        if completed is None:
            completed = self.completed()
        keys = ["file_hash", "file_path"]
        hist = completed.select(F.col("cache_key").alias("file_hash"), "file_path", *payload)
        plan = self._join_plan()
        if plan is not None:
            return self.stats.apply_using_join(
                files, hist, keys, plan, how, column_aliases={"file_hash": STATS_COLUMN}
            )
        return files.join(hist, keys, how)
