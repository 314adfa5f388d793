"""The commit protocol shared by both lake stores (``LakeTable`` and
``UnkeyedEventLog``): a store is a directory whose ``_meta/`` holds one
JSON per committed version and a ``_current`` pointer.

  * **atomic commit** — ``_write_version`` exclusive-creates
    ``v{n}.json`` (the commit lock: of two writers of version n exactly
    one wins, the other gets ``CommitConflict``), then swaps the
    ``_current`` pointer (Iceberg's version-hint protocol). Readers
    follow the pointer, so they only ever see committed versions. All
    metadata IO goes through the filesystem seam in ``lake/fs.py`` —
    POSIX O_EXCL / os.replace here, HDFS create-no-overwrite / rename
    or S3 conditional PUTs on a cluster; data files are Spark-side IO
    and already scheme-portable.
  * **epoch fence in the same commit** — the metadata records, per
    stream id, the last applied epoch, and a commit advances it in the
    same pointer swap as the data. ``fenced`` is the one test of it: a
    ``foreachBatch`` retry of an already-applied epoch is a no-op
    (exactly-once; the reference's analogous hazard window is
    Kafka-commit-then-DB-delete, transfer_thread.rb:68-80,171-177).
  * **crash-redo create** — the creation lock is the exclusive v0
    commit, not the directory: a create that crashed anywhere can be
    re-run, and a live store is refused.
  * **uuid staging** — data is written into a fresh
    ``{prefix}-{version}-{uuid}`` dir before the commit. A hard crash
    between the write and the commit leaves an orphan no metadata names;
    the replayed epoch recomputes the same version, and a
    version-derived name would collide with the orphan ("path already
    exists") and wedge the stream. Each store's expiry reaps orphans.
    A write that fails drops its dir. ``_stage`` returns the parquet
    files it wrote, from one walk of the dir, and every writer commits
    exactly that list — no writer lists its staged dir again (Iceberg's
    writers hand their data files to the snapshot commit the same way).
  * **pre-commit barrier** — ``_barrier`` runs a writer's
    ``pre_commit`` after its staging write and before its metadata
    commit: the one place where work that must durably precede a sink
    commit (the epoch's dead letters, the envelope rejects) is joined.
    If it raises, the staged dir is dropped and nothing commits.
  * **rebase loop** — a store operation reads the metadata ``m`` once
    and builds its commit on it; ``_commit_rebasing`` commits that and,
    on ``CommitConflict``, rebuilds on the re-read head. Every
    ``UnkeyedEventLog`` commit rebases: an append, expiry bookkeeping,
    and a rewrite (it replaces only ``m``'s segments, so it raises
    ``CommitConflict`` once a rival retired one). ``LakeTable`` commits
    stay single-attempt: the staged buckets hold ``m``'s stored rows,
    so ``merge_with_retry`` re-stages.
  * **schema union** — ``union_schema``: add-only, with the
    Iceberg-compatible primitive widenings of ``_WIDEN`` (metadata only;
    Spark's parquet readers promote the old files at scan time);
    incompatible changes raise.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrameWriter, SparkSession
from pyspark.sql import types as T

from movex_cdc_spark.lake.fs import DEFAULT_FS

# widenings allowed without rewriting data files (Iceberg-compatible set)
_WIDEN: dict[tuple[str, str], str] = {
    ("integer", "long"): "long",
    ("float", "double"): "double",
    ("integer", "double"): "double",
    ("date", "timestamp"): "timestamp",
}


class CommitConflict(FileExistsError):
    """Another writer committed this version first — reread and retry."""


def union_schema(have: T.StructType, batch: T.StructType) -> tuple[T.StructType, bool]:
    """Add-only union of a committed schema and a batch schema, and
    whether it differs from ``have``: existing columns keep their order,
    new ones are appended, widenable primitives widen. A batch column
    narrower than the committed one is cast up by the reader; an
    all-null (NullType) column carries no type and is ignored; any
    other type change raises."""
    by_name = {f.name: f for f in have.fields}
    changed = False
    for f in batch.fields:
        old = by_name.get(f.name)
        if isinstance(f.dataType, T.NullType) or (old is not None and old.dataType == f.dataType):
            continue
        if old is not None and (old.dataType.typeName(), f.dataType.typeName()) not in _WIDEN:
            if (f.dataType.typeName(), old.dataType.typeName()) in _WIDEN:
                continue  # batch is narrower: cast up at read/merge time
            raise ValueError(
                f"incompatible type change for {f.name}: {old.dataType} -> {f.dataType}"
            )
        by_name[f.name] = T.StructField(f.name, f.dataType, True)
        changed = True
    names = [f.name for f in have.fields]
    added = [f.name for f in batch.fields if f.name not in names and f.name in by_name]
    return T.StructType([by_name[n] for n in names + added]), changed


class VersionedStore:
    def __init__(self, spark: SparkSession, path: str, fs=None):
        self.spark = spark
        self.path = path
        # all metadata/commit IO goes through the fs seam (lake/fs.py)
        self.fs = fs or DEFAULT_FS
        self.meta_dir = os.path.join(path, "_meta")

    def _create(self, meta0: dict[str, Any]) -> None:
        """Commit ``meta0`` as version 0. The ``_meta`` dir may already
        exist: the creation lock is the exclusive v0 commit, not the dir
        — a crash between the two would otherwise fail every re-create
        on the empty dir.

        On a lost v0 commit: a LIVE store (committed pointer) is
        refused; a create that crashed between the v0 write and the
        pointer swap left a possibly-partial v0 no reader ever saw — it
        is dropped and the commit redone. Two concurrent creators can
        both reach the redo: the remove may find the file already gone
        (tolerated), and the redo may lose the v0 commit again, which
        raises once more. First committed v0 wins; concurrent creates
        with differing payloads are undefined."""
        name = type(self).__name__
        self.fs.makedirs(self.meta_dir, exist_ok=True)
        for redo in (False, True):
            try:
                return self._write_version(meta0)
            except CommitConflict:
                if self.fs.exists(os.path.join(self.meta_dir, "_current")):
                    raise FileExistsError(f"{name} already exists at {self.path}") from None
                if redo:
                    # the other creator committed v0 and its pointer
                    # swap is imminent
                    raise FileExistsError(
                        f"concurrent create of {name} in progress at {self.path}"
                    ) from None
            try:
                self.fs.remove(os.path.join(self.meta_dir, "v0.json"))
            except FileNotFoundError:
                pass  # the concurrent creator already removed it

    @classmethod
    def load(cls, spark: SparkSession, path: str, fs=None):
        store = cls(spark, path, fs=fs)
        store.current_version()  # raises if missing
        return store

    # ------------------------------------------------------- metadata
    def current_version(self) -> int:
        return int(self.fs.read_text(os.path.join(self.meta_dir, "_current")).strip())

    def meta(self, version: int | None = None) -> dict[str, Any]:
        v = self.current_version() if version is None else version
        return json.loads(self.fs.read_text(os.path.join(self.meta_dir, f"v{v}.json")))

    def _write_version(self, meta: dict[str, Any]) -> None:
        """Atomic commit: exclusive-create v{n}.json (the commit lock:
        HDFS create-no-overwrite / S3 If-None-Match PUT), then swap the
        _current pointer (HDFS rename / S3 If-Match PUT or a catalog
        pointer row)."""
        v = meta["version"]
        try:
            self.fs.create_exclusive_text(
                os.path.join(self.meta_dir, f"v{v}.json"), json.dumps(meta)
            )
        except FileExistsError as e:  # lost the race for this version
            raise CommitConflict(f"version {v} already committed") from e
        self.fs.replace_text(os.path.join(self.meta_dir, "_current"), str(v))

    @staticmethod
    def _next(m: dict[str, Any], stream_id: str | None = None,
              epoch_id: int | None = None, **changes: Any) -> dict[str, Any]:
        """``m`` advanced one version with ``changes``; an ``epoch_id``
        fences ``stream_id`` in the same commit."""
        m2 = {**m, "version": m["version"] + 1, **changes}
        if epoch_id is not None:
            m2["epochs"] = {**m["epochs"], stream_id: epoch_id}
        return m2

    @staticmethod
    def fenced(m: dict[str, Any], stream_id: str, epoch_id: int | None) -> bool:
        """Whether ``m`` already holds ``epoch_id`` of ``stream_id``."""
        last = None if epoch_id is None else m["epochs"].get(stream_id)
        return last is not None and epoch_id <= last

    def _commit_rebasing(
        self,
        m: dict[str, Any],
        build: Callable[[dict[str, Any]], "dict[str, Any] | None"],
        max_attempts: int = 20,
    ) -> "dict[str, Any] | None":
        """Commit ``build(m)``; on ``CommitConflict`` back off, re-read
        the metadata and commit ``build`` of the new head. ``build``
        returns None to stop (say, a rival already committed this
        epoch), and so does this. Returns the committed metadata."""
        for attempt in range(max_attempts):
            m2 = build(m)
            if m2 is None:
                return None
            try:
                self._write_version(m2)
                return m2
            except CommitConflict:
                # the winner's commit is two steps (exclusive-create the
                # version file, then swap _current); a zero-backoff spin
                # can burn every attempt re-reading the STALE _current
                # while the winner is parked between them. Linear backoff
                # lets its microsecond-scale second step land.
                time.sleep(0.001 * (attempt + 1))
                m = self.meta()
        raise RuntimeError(f"commit to {self.path} lost the commit race {max_attempts} times")

    # ---------------------------------------------------------- stage
    def _stage(self, writer: DataFrameWriter, prefix: str, version: int) -> tuple[str, list[str]]:
        """Run ``writer`` into a fresh ``{prefix}-{version}-{uuid}`` dir
        (module docstring); returns the dir and its parquet files, both
        store-relative, the files sorted. A failed write or listing drops
        the dir."""
        rel = f"{prefix}-{version}-{uuid.uuid4().hex[:8]}"
        out = os.path.join(self.path, rel)
        try:
            writer.parquet(out, mode="errorifexists")
            files = sorted(
                os.path.join(rel, root[len(out) + 1:], f)
                for root, _dirs, names in self.fs.walk(out)
                for f in names
                if f.endswith(".parquet")
            )
        except Exception:
            self.fs.rmtree(out)
            raise
        return rel, files

    def _barrier(self, pre_commit: "Callable[[], Any] | None", rel: str) -> dict[str, float]:
        """Run ``pre_commit`` for the staged dir ``rel`` (module docstring);
        returns its wall as ``pre_commit_wait_s``: the part of the
        caller's concurrent work the staging write did not hide."""
        if pre_commit is None:
            return {}
        _t = time.monotonic()
        try:
            pre_commit()
        except Exception:
            self.fs.rmtree(os.path.join(self.path, rel))
            raise
        return {"pre_commit_wait_s": round(time.monotonic() - _t, 4)}
