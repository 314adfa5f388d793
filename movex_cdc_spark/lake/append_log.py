"""Append-only, epoch-fenced event log — the sink for unkeyed tables.

Reference S5: events whose table has ``kafka_key_handling = 'N'`` are
produced WITHOUT a message key (transfer_thread.rb:331-347) — they are
still delivered exactly like keyed events, but with relaxed (round-
robin partition) ordering and no per-key compaction. The Spark analog:
no LWW collapse, no MERGE — each valid event is appended once.

Scale shape: an append is one parquet write of the batch, zero shuffle,
zero rewrite of existing data — O(batch), never O(table). Exactly-once
comes from the same metadata-pointer protocol as LakeTable: the file
list and the per-stream epoch fence are committed in one atomic
``os.replace`` of the ``_current`` pointer. Segment directories are
uuid-named, so a crash BETWEEN the parquet write and the metadata
commit leaves only an orphan dir that no listing ever references —
the replayed epoch writes a fresh dir and commits normally (a
version-derived name would collide with the orphan and wedge the log).

Schema evolution mirrors LakeTable.evolve_schema: the committed read
schema is the add-only UNION of every appended batch (widenable
primitives widen — Spark 4's parquet readers promote int32->long /
float->double at scan time); an incompatible type change raises
instead of silently corrupting older segments.

Compaction (small-files housekeeping) swaps the listing atomically and
RETAINS the old segment dirs: a concurrent reader that planned a scan
over the old listing still finds its files. ``expire_segments`` reaps
unreferenced dirs after a retention window, like
LakeTable.expire_snapshots.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from movex_cdc_spark.lake.fs import DEFAULT_FS
from movex_cdc_spark.lake.table import _WIDEN


def _union_schema(cur: dict | None, batch: T.StructType) -> dict:
    """Add-only union of the committed schema and a batch schema, with
    Iceberg-compatible primitive widening; incompatible changes raise."""
    if cur is None:
        return batch.jsonValue()
    have = T.StructType.fromJson(cur)
    by_name = {f.name: f for f in have.fields}
    for f in batch.fields:
        if isinstance(f.dataType, T.NullType):
            continue  # all-null column carries no type information
        if f.name not in by_name:
            by_name[f.name] = T.StructField(f.name, f.dataType, True)
        else:
            old = by_name[f.name].dataType
            new = f.dataType
            if old != new:
                if (old.typeName(), new.typeName()) in _WIDEN:
                    by_name[f.name] = T.StructField(f.name, new, True)
                elif (new.typeName(), old.typeName()) in _WIDEN:
                    pass  # batch is narrower; the reader widens at scan
                else:
                    raise ValueError(
                        f"incompatible append-log type change for {f.name}: {old} -> {new}"
                    )
    ordered = [by_name[f.name] for f in have.fields] + [
        by_name[f.name] for f in batch.fields if f.name not in {g.name for g in have.fields}
    ]
    return T.StructType(ordered).jsonValue()


class UnkeyedEventLog:
    def __init__(self, spark: SparkSession, path: str, fs=None):
        self.spark = spark
        self.path = path
        # metadata/commit IO through the fs seam (lake/fs.py); data
        # files are Spark reads/writes, already scheme-portable
        self.fs = fs or DEFAULT_FS
        self.meta_dir = os.path.join(path, "_meta")

    @classmethod
    def create(cls, spark: SparkSession, path: str, fs=None) -> "UnkeyedEventLog":
        log = cls(spark, path, fs=fs)
        # creation lock = the exclusive v0 commit, not the dir (see
        # LakeTable.create: a crashed create must be re-runnable)
        log.fs.makedirs(log.meta_dir, exist_ok=True)
        meta0 = {"version": 0, "files": [], "epochs": {}, "schema": None, "retired": []}
        try:
            log._write_version(meta0)
        except FileExistsError:
            if log.fs.exists(os.path.join(log.meta_dir, "_current")):
                raise FileExistsError(f"log already exists at {path}") from None
            # crashed OR concurrent create: tolerate the other creator
            # winning the remove/redo races (see LakeTable.create —
            # first committed v0 wins, differing payloads undefined)
            try:
                log.fs.remove(os.path.join(log.meta_dir, "v0.json"))
            except FileNotFoundError:
                pass
            try:
                log._write_version(meta0)
            except FileExistsError:
                if log.fs.exists(os.path.join(log.meta_dir, "_current")):
                    raise FileExistsError(
                        f"log already exists at {path}"
                    ) from None
                raise FileExistsError(
                    f"concurrent create in progress at {path}"
                ) from None
        return log

    @classmethod
    def load(cls, spark: SparkSession, path: str, fs=None) -> "UnkeyedEventLog":
        log = cls(spark, path, fs=fs)
        log.meta()  # raises if missing
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

    # ------------------------------------------------------- metadata
    def meta(self) -> dict[str, Any]:
        v = int(self.fs.read_text(os.path.join(self.meta_dir, "_current")).strip())
        return json.loads(self.fs.read_text(os.path.join(self.meta_dir, f"v{v}.json")))

    def meta_at(self, version: int) -> dict[str, Any]:
        """Historical metadata (version JSONs are never deleted —
        expire_segments reaps DATA dirs only). Raises FileNotFoundError
        for a version that never committed."""
        return json.loads(
            self.fs.read_text(os.path.join(self.meta_dir, f"v{version}.json"))
        )

    def _write_version(self, meta: dict[str, Any]) -> None:
        v = meta["version"]
        # exclusive-create = commit lock; replace_text = atomic pointer
        # swap (cluster mappings documented in lake/fs.py)
        self.fs.create_exclusive_text(
            os.path.join(self.meta_dir, f"v{v}.json"), json.dumps(meta)
        )
        self.fs.replace_text(os.path.join(self.meta_dir, "_current"), str(v))

    def _write_segment(self, batch: DataFrame, new_version: int) -> list[str]:
        """Write one uuid-named segment dir; returns the relative file
        list. The uuid makes a crash-replayed epoch rewrite a FRESH dir
        (the orphan from the crashed attempt is never listed)."""
        seg_rel = f"seg-{new_version}-{uuid.uuid4().hex[:8]}"
        seg_dir = os.path.join(self.path, seg_rel)
        batch.write.parquet(seg_dir, mode="errorifexists")
        return [
            os.path.join(seg_rel, f)
            for f in sorted(self.fs.listdir(seg_dir))
            if f.endswith(".parquet")
        ]

    # --------------------------------------------------------- append
    def append(
        self,
        batch: DataFrame,
        stream_id: str = "default",
        epoch_id: int | None = None,
        max_attempts: int = 20,
    ) -> dict[str, Any]:
        """Append a batch; fenced per (stream_id, epoch_id) like
        LakeTable.merge. Returns the lineage record.

        Optimistic concurrency: several writers (the multiplexed
        pipeline's per-table dispatch threads sharing one dead-letter
        log, or parallel streams) may race on the version counter. A
        loser re-reads the listing, re-checks its fence, and re-commits
        the SAME already-written segment — data is written once, only
        the metadata commit retries (LakeTable.merge_with_retry's
        contract). The uuid-named segment of a fenced-out loser is
        never listed, i.e. invisible, same as a crash orphan."""
        m = self.meta()
        if epoch_id is not None:
            last = m["epochs"].get(stream_id)
            if last is not None and epoch_id <= last:
                return {"skipped": True, "stream_id": stream_id, "epoch_id": epoch_id}
        files = self._write_segment(batch, m["version"] + 1)
        for _attempt in range(max_attempts):
            new_version = m["version"] + 1
            m2 = dict(m)
            m2["version"] = new_version
            m2["files"] = list(m["files"]) + files
            m2["epochs"] = dict(m["epochs"])
            if epoch_id is not None:
                m2["epochs"][stream_id] = epoch_id
            m2["schema"] = _union_schema(m.get("schema"), batch.schema)
            try:
                self._write_version(m2)
            except FileExistsError:
                # the winner's commit is two steps (exclusive-create
                # version file, then _current swap); a zero-backoff spin
                # can burn every attempt re-reading the STALE _current
                # while the winner is parked between them. Linear
                # backoff guarantees the winner's microsecond-scale
                # second step lands within a few retries.
                time.sleep(0.001 * (_attempt + 1))
                m = self.meta()  # lost the version race: rebase and retry
                if epoch_id is not None:
                    last = m["epochs"].get(stream_id)
                    if last is not None and epoch_id <= last:
                        # a concurrent replay of OUR epoch won instead
                        return {"skipped": True, "stream_id": stream_id,
                                "epoch_id": epoch_id}
                continue
            return {
                "version": new_version,
                "stream_id": stream_id,
                "epoch_id": epoch_id,
                "files_added": len(files),
            }
        raise RuntimeError(
            f"append to {self.path} lost the commit race {max_attempts} times"
        )

    # -------------------------------------------------------- rewrite
    def _swap_listing(
        self,
        m: dict,
        new_files: list[str],
        schema: dict,
        extra: dict[str, Any] | None = None,
    ) -> dict[str, Any]:
        """Commit a full-listing swap: the old segments become RETIRED
        (still on disk for in-flight readers) and are reaped later by
        expire_segments — never deleted inside the commit. ``extra``
        merges additional metadata keys into the SAME atomic commit
        (e.g. the MoR delta's row counter reset)."""
        old_dirs = sorted({f.split(os.sep, 1)[0] for f in m["files"]})
        m2 = dict(m)
        m2["version"] = m["version"] + 1
        m2["files"] = new_files
        m2["schema"] = schema
        m2["retired"] = list(m.get("retired", [])) + [
            {"dir": d, "at_version": m2["version"]} for d in old_dirs
        ]
        # durable swap marker for incremental readers: retired records
        # are PRUNED by expire_segments, so a changes() consumer lagging
        # past the retention window would otherwise stop seeing the swap
        # and compute a silently-wrong diff (the COW table's
        # last_overwrite_version, same role)
        m2["last_swap_version"] = m2["version"]
        if extra:
            m2.update(extra)
        self._write_version(m2)
        return {"version": m2["version"], "files_before": len(m["files"]),
                "files_after": len(new_files)}

    def replace(self, df: DataFrame) -> dict[str, Any]:
        """Replace the whole log content in one atomic commit (the
        dead-letter RETRY rewrite: waiting ∪ still-poison rows back in,
        healed rows out). Epoch fences are preserved; readers see the
        old or the new listing, never a partial state."""
        m = self.meta()
        files = self._write_segment(df, m["version"] + 1)
        return self._swap_listing(m, files, _union_schema(m.get("schema"), df.schema))

    def compact_segments(self, target_files: int = 4) -> dict[str, Any]:
        """Small-files housekeeping (the sink-side ST8): a long-running
        stream appends one segment per epoch; rewrite them into
        ``target_files`` files and swap the listing in one atomic
        commit. Old segments stay on disk until expire_segments."""
        m = self.meta()
        if len(m["files"]) <= target_files:
            return {"skipped": True, "files": len(m["files"])}
        new_version = m["version"] + 1
        files = self._write_segment(self.read().coalesce(target_files), new_version)
        return self._swap_listing(m, files, m.get("schema"))

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

        The bookkeeping commit rebases and retries like ``append`` —
        concurrent appenders advancing the version must not make
        maintenance fail spuriously after dirs were already removed."""
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
        keep = [r for r in m.get("retired", []) if r["dir"] not in reaped_dirs]
        for _attempt in range(max_attempts):
            m2 = dict(m)
            m2["version"] = m["version"] + 1
            m2["retired"] = keep
            m2["orphans_seen"] = new_seen
            try:
                self._write_version(m2)
                return removed
            except FileExistsError:
                time.sleep(0.001 * (_attempt + 1))
                m = self.meta()  # lost the version race: rebase
                keep = [
                    r
                    for r in m.get("retired", [])
                    if r["dir"] not in reaped_dirs
                ]
                fresh_seen = dict(m.get("orphans_seen", {}))
                live = {f.split(os.sep, 1)[0] for f in m["files"]}
                kept_dirs = {r["dir"] for r in keep}
                merged: dict[str, int] = {}
                for d in set(fresh_seen) | set(new_seen):
                    # a dir we reaped, or that COMMITTED meanwhile
                    # (now live/retired), leaves the watch list; a dir
                    # both we and a rival expire observed keeps its
                    # EARLIEST observation version
                    if d in reaped_dirs or d in live or d in kept_dirs:
                        continue
                    merged[d] = min(
                        fresh_seen.get(d, new_seen.get(d, m["version"])),
                        new_seen.get(d, fresh_seen.get(d, m["version"])),
                    )
                new_seen = merged
        raise RuntimeError(
            f"expire_segments on {self.path} lost the commit race"
            f" {max_attempts} times (dirs already removed: {removed})"
        )

    # ----------------------------------------------------------- read
    def read(self) -> DataFrame:
        m = self.meta()
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
