"""Append-only, epoch-fenced event log — the sink for unkeyed tables.

Reference S5: events whose table has ``kafka_key_handling = 'N'`` are
produced WITHOUT a message key (transfer_thread.rb:331-347) — they are
still delivered exactly like keyed events, but with relaxed (round-
robin partition) ordering and no per-key compaction. The Spark analog:
no LWW collapse, no MERGE — each valid event is appended once.

Scale shape: an append is one parquet write of the batch, zero shuffle,
zero rewrite of existing data — O(batch), never O(table). Exactly-once
comes from the commit protocol LakeTable uses too (``lake/versioned.py``):
the file list and the per-stream epoch fence are committed in one
atomic swap of the ``_current`` pointer, and each segment is a
uuid-named ``seg-{version}-{uuid}`` staging dir, so a crash BETWEEN the
parquet write and the metadata commit leaves only an orphan dir that no
listing ever references.

The committed read schema is the add-only ``union_schema``
(versioned.py) of every appended batch: widenable primitives widen —
Spark 4's parquet readers promote int32->long / float->double at scan
time — and an incompatible type change raises, before anything is
staged, instead of silently corrupting older segments. An all-null
column is written with its committed type, or not at all (``_align``).

A rewrite (``replace``: retry pass, retention, compaction) replaces
exactly the segments of the snapshot it read, as the reference worker
deletes exactly the Event_Logs rows it read while triggers keep
inserting (transfer_thread.rb:68-80,149-177); segments appended since
stay listed. It RETAINS the old segment dirs, so a reader that planned
a scan over the old listing still finds its files; ``expire_segments``
reaps them after a retention window, like LakeTable.expire_snapshots.
"""

from __future__ import annotations

import os
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from movex_cdc_spark.lake.fs import DEFAULT_FS
from movex_cdc_spark.lake.versioned import CommitConflict, VersionedStore, union_schema
from movex_cdc_spark.session import select_sql
from movex_cdc_spark.sqltext import cast, ident


def _align(m: dict[str, Any], batch: DataFrame) -> DataFrame:
    """``batch`` with each all-null (NullType) column cast to its type in
    ``m``'s committed schema, or left out while the log has no type for
    it (LakeTable's evolve skips such a column too). Spark writes a
    ``void`` column as physical BOOLEAN, which a later read with a typed
    schema rejects, and a committed ``void`` could never widen."""
    have = {f.name: f.dataType for f in T.StructType.fromJson(m.get("schema") or {"fields": []}).fields}
    fields = batch.schema.fields
    if not any(isinstance(f.dataType, T.NullType) for f in fields):
        return batch
    return select_sql(batch, [
        ident(f.name) if not isinstance(f.dataType, T.NullType)
        else f"{cast(ident(f.name), have[f.name])} AS {ident(f.name)}"
        for f in fields
        if f.name in have or not isinstance(f.dataType, T.NullType)
    ])


def _union(m: dict[str, Any], batch: T.StructType) -> dict:
    """The committed schema of ``m`` unioned with an ``_align``-ed
    ``batch``, as metadata JSON; the first append's schema is the
    batch's own. Raises on an incompatible type change."""
    if not m.get("schema"):
        return batch.jsonValue()
    return union_schema(T.StructType.fromJson(m["schema"]), batch)[0].jsonValue()


class UnkeyedEventLog(VersionedStore):
    # commit, fence, create and staging: lake/versioned.py
    @classmethod
    def create(cls, spark: SparkSession, path: str, fs=None) -> "UnkeyedEventLog":
        log = cls(spark, path, fs=fs)
        log._create({"version": 0, "files": [], "epochs": {}, "schema": None, "retired": []})
        return log

    @classmethod
    def open(cls, spark: SparkSession, path: str, fs=None) -> "UnkeyedEventLog":
        """Load the log, creating it only when it is MISSING. A dir that
        holds parquet files but no log metadata is a legacy/foreign
        store — creating an empty log over it would silently orphan its
        rows — so that raises. Any other load error (corrupt metadata)
        propagates as-is."""
        fs = fs or DEFAULT_FS
        try:
            return cls.load(spark, path, fs=fs)
        except FileNotFoundError:
            if fs.isdir(path) and any(f.endswith(".parquet") for f in fs.listdir(path)):
                raise ValueError(
                    f"{path} holds parquet files but no log metadata — "
                    "not re-initializing over its existing rows"
                )
            return cls.create(spark, path, fs=fs)

    # --------------------------------------------------------- append
    def append(
        self,
        batch: DataFrame,
        stream_id: str = "default",
        epoch_id: int | None = None,
        max_attempts: int = 20,
        pre_commit: "Any | None" = None,
    ) -> dict[str, Any]:
        """Append a batch; fenced per (stream_id, epoch_id) like
        LakeTable.merge, and ``pre_commit`` runs at the barrier as there.
        Returns the lineage record.

        Optimistic concurrency: several writers (the multiplexed
        pipeline's per-table dispatch threads sharing one dead-letter
        log, or parallel streams) may race on the version counter. A
        loser rebases (``_commit_rebasing``): it re-reads the listing,
        re-checks its fence, re-unions the schema and re-commits the
        SAME already-written segment — data is written once, only the
        metadata commit retries. The uuid-named segment of a fenced-out
        loser is never listed, i.e. invisible, same as a crash orphan."""
        skipped = {"skipped": True, "stream_id": stream_id, "epoch_id": epoch_id}
        m = self.meta()
        if self.fenced(m, stream_id, epoch_id):
            return skipped
        # aligned and unioned BEFORE the write: a rejected batch stages nothing
        batch = _align(m, batch)
        _union(m, batch.schema)
        rel, files = self._stage(batch.write, "seg", m["version"] + 1)
        timings = self._barrier(pre_commit, rel)

        def build(cur: dict[str, Any]) -> dict[str, Any] | None:
            if self.fenced(cur, stream_id, epoch_id):
                return None  # a concurrent replay of OUR epoch won instead
            return self._next(cur, stream_id, epoch_id, files=cur["files"] + files,
                              schema=_union(cur, batch.schema))

        m2 = self._commit_rebasing(m, build, max_attempts)
        if m2 is None:
            return skipped
        return {"version": m2["version"], "stream_id": stream_id,
                "epoch_id": epoch_id, "files_added": len(files), "timings": timings}

    # -------------------------------------------------------- rewrite
    def replace(self, df: DataFrame, m: dict[str, Any]) -> dict[str, Any]:
        """Replace the segments metadata ``m`` lists with ``df`` (rows read
        from ``m``) in one atomic commit: the dead-letter RETRY rewrite,
        retention, compaction. Segments appended after ``m`` stay listed:
        the commit rebases (Iceberg re-applies a rewrite to new metadata
        once its replaced files are still there). If a rival rewrite
        already retired one of ``m``'s segments, this raises
        ``CommitConflict`` and drops its staged segment. The replaced
        segments become RETIRED, reaped later by expire_segments."""
        df = _align(m, df)
        _union(m, df.schema)  # before the write, as in append
        rel, files = self._stage(df.write, "seg", m["version"] + 1)
        read, dirs = set(m["files"]), sorted({f.split(os.sep, 1)[0] for f in m["files"]})

        def build(cur: dict[str, Any]) -> dict[str, Any]:
            if not read <= set(cur["files"]):
                raise CommitConflict(f"a rival rewrite of {self.path} retired a segment this one read")
            retired = cur.get("retired", []) + [
                {"dir": d, "at_version": cur["version"] + 1} for d in dirs
            ]
            return self._next(cur, files=files + [f for f in cur["files"] if f not in read],
                              schema=_union(cur, df.schema), retired=retired)

        try:
            m2 = self._commit_rebasing(m, build)
        except CommitConflict:
            self.fs.rmtree(os.path.join(self.path, rel))
            raise
        return {"version": m2["version"], "files_before": len(read), "files_after": len(m2["files"])}

    def compact_segments(self, target_files: int = 4) -> dict[str, Any]:
        """Small-files housekeeping (the sink-side ST8): a long-running
        stream appends one segment per epoch; rewrite them into
        ``target_files`` files (``replace``). Old segments stay on disk
        until expire_segments."""
        m = self.meta()
        if len(m["files"]) <= target_files:
            return {"skipped": True, "files": len(m["files"])}
        return self.replace(self.read(m).coalesce(target_files), m)

    def _dir_age_s(self, seg_dir: str) -> float:
        """Seconds since the NEWEST touch of ``seg_dir`` or any direct
        child — the writer-liveness signal for orphan reaping. A parquet
        write lands task files (and their renames touch the dir), so an
        in-flight append keeps this young regardless of how far the
        version counter has advanced."""
        newest = self.fs.mtime(seg_dir)
        try:
            for f in self.fs.listdir(seg_dir):
                newest = max(newest, self.fs.mtime(os.path.join(seg_dir, f)))
        except FileNotFoundError:
            pass  # a concurrent expire reaped it between list and stat
        return time.time() - newest

    def expire_segments(
        self,
        keep_last: int = 2,
        orphan_min_age_s: float = 900.0,
        max_attempts: int = 20,
    ) -> int:
        """Reap retired segment dirs whose swap happened more than
        ``keep_last`` versions ago (LakeTable.expire_snapshots analog):
        any reader that planned against a retained listing has finished
        by then. Also reaps ORPHAN segment dirs — a fenced-out
        concurrent appender (its epoch won by a rival) or a crashed
        writer leaves its uuid-named segment on disk, never listed.
        Under concurrent dispatch that race is normal operation, so
        orphans would otherwise accumulate forever. Returns the number
        of dirs removed.

        Orphan reaping requires BOTH (ADVICE r6 — version distance
        alone is not a liveness proxy when concurrent dispatch can
        advance the version arbitrarily fast past a large in-flight
        write):

        * TWO-PHASE version distance — observe the unlisted dir, reap
          only once the log has advanced ``keep_last`` versions past
          the observation (an in-flight append writes its segment
          BEFORE the metadata commit and keeps its dir name while
          rebasing through commit retries, so a dir seen once may
          still commit);
        * WALL-CLOCK age — the dir (and every file in it) untouched
          for at least ``orphan_min_age_s``. A writer still laying
          down parquet files, or parked in its commit-retry backoff,
          keeps the mtime young no matter how many rivals commit
          meanwhile. The default horizon is deliberately generous;
          deployments where a single segment write can exceed it (huge
          epochs on slow stores) should raise it — orphans are only a
          disk-space leak, never a correctness issue, so erring on
          KEEP is free.

        The bookkeeping commit rebases like ``append``
        (``_commit_rebasing``) — concurrent appenders advancing the
        version must not make maintenance fail spuriously after dirs
        were already removed."""
        m = self.meta()
        cutoff = m["version"] - keep_last
        removed = 0
        reaped_dirs: set[str] = set()
        retired_dirs = {r["dir"] for r in m.get("retired", [])}
        for r in m.get("retired", []):
            if r["at_version"] <= cutoff:
                self.fs.rmtree(os.path.join(self.path, r["dir"]))
                reaped_dirs.add(r["dir"])
                removed += 1
        live = {f.split(os.sep, 1)[0] for f in m["files"]}
        seen = dict(m.get("orphans_seen", {}))
        new_seen: dict[str, int] = {}
        for d in sorted(self.fs.listdir(self.path)):
            if not d.startswith("seg-") or d in live or d in retired_dirs:
                continue
            if not self.fs.isdir(os.path.join(self.path, d)):
                continue
            observed_at = seen.get(d)
            if (
                observed_at is not None
                and observed_at <= cutoff
                and self._dir_age_s(os.path.join(self.path, d))
                >= orphan_min_age_s
            ):
                self.fs.rmtree(os.path.join(self.path, d))
                reaped_dirs.add(d)
                removed += 1
            else:
                new_seen[d] = m["version"] if observed_at is None else observed_at
        if not (removed or new_seen != seen):
            return removed

        def build(cur: dict[str, Any]) -> dict[str, Any]:
            # on a rebase, keep a rival expire's new observations: a dir
            # both observed keeps its EARLIEST observation version; a dir
            # reaped here, or COMMITTED meanwhile, leaves the watch list
            keep = [r for r in cur.get("retired", []) if r["dir"] not in reaped_dirs]
            gone = reaped_dirs | {r["dir"] for r in keep} | {f.split(os.sep, 1)[0] for f in cur["files"]}
            watch = {d: v for d, v in cur.get("orphans_seen", {}).items() if d not in seen}
            for d, v in new_seen.items():
                watch[d] = min(v, watch.get(d, v))
            return self._next(cur, retired=keep,
                              orphans_seen={d: v for d, v in watch.items() if d not in gone})

        self._commit_rebasing(m, build, max_attempts)
        return removed

    # ----------------------------------------------------------- read
    def read(self, m: dict[str, Any] | None = None) -> DataFrame:
        """The rows metadata ``m`` lists (default: the current version)."""
        m = self.meta() if m is None else m
        files = [os.path.join(self.path, f) for f in m["files"]]
        if not files:
            schema = (
                T.StructType.fromJson(m["schema"]) if m.get("schema") else T.StructType([])
            )
            return self.spark.createDataFrame([], schema)
        # read with the committed UNION schema: segments written before
        # a column add come back with nulls, narrower primitives widen
        schema = T.StructType.fromJson(m["schema"])
        return self.spark.read.schema(schema).parquet(*files)
