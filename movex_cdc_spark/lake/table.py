"""Snapshot-versioned, hash-bucketed lake table with MERGE upsert.

This is the engine's sink — the role Iceberg ``MERGE INTO`` plays in
the north rule. The sandbox ships no Iceberg runtime jar, so the table
format is implemented here with the same contract Iceberg gives us:

  * **atomic snapshot commit** — a new metadata JSON is staged and the
    current-version pointer swapped atomically (Iceberg's atomic
    metadata swap); readers only ever see a committed version. All
    metadata/commit IO goes through the filesystem seam in
    ``lake/fs.py`` — LocalFS (POSIX os.replace / O_EXCL) here, with a
    documented 1:1 mapping onto HDFS rename / S3 conditional PUT for
    cluster deployment; data files are Spark-side IO and already
    scheme-portable.
  * **copy-on-write MERGE, bucket-pruned** — the table is hash-bucketed
    on its key columns. A merge rewrites ONLY the buckets that contain
    batch keys; untouched buckets carry their files forward by
    reference. Merge cost is proportional to touched data, not table
    size — this is what keeps a 10^10-row table mergeable.
  * **epoch-id fencing in the same commit** — the metadata records, per
    stream id, the last applied epoch. A ``foreachBatch`` retry of an
    already-applied epoch is a no-op, because the fence check and the
    data swap are the same atomic pointer move (exactly-once; the
    reference's analogous hazard window is Kafka-commit-then-DB-delete,
    transfer_thread.rb:68-80,171-177).
  * **schema evolution** — column adds and int→long / float→double
    widening recorded per snapshot; old files are read with the new
    schema (missing columns → null), the Iceberg ALTER-before-MERGE
    analog.
  * **time travel** — any committed version can be read back.
  * **tombstones** — deletes keep ``(key, last_seq, deleted=true)`` so
    a late event with a LOWER seq can never resurrect a deleted row,
    while a genuinely newer insert can (SURVEY §7.3 hard part 5).

On a real cluster every piece of this maps 1:1 onto Iceberg catalog
calls; the class is deliberately small so that swap is mechanical.
"""

from __future__ import annotations

import json
import os
import re
import uuid
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from movex_cdc_spark.lake.fs import DEFAULT_FS

BUCKET_COL = "__bucket"
PART_COL = "__bucket_part"  # duplicated for partitionBy (dir layout)
SEQ_COL = "last_seq"
DELETED_COL = "deleted"
_RANK = "__rank"  # merge tie-break: stored row vs batch row of equal seq

# widenings allowed without rewriting data files (Iceberg-compatible set)
_WIDEN: dict[tuple[str, str], str] = {
    ("integer", "long"): "long",
    ("float", "double"): "double",
    ("integer", "double"): "double",
    ("date", "timestamp"): "timestamp",
}


def bucket_expr(key_cols: list[str], n_buckets: int):
    """Deterministic key→bucket assignment: pmod(xxhash64(keys), n).

    Same role as the reference's MOD(ORA_HASH(Msg_Key,1e6), workers)
    worker-affinity slice (transfer_thread.rb:239-242): every key maps
    to exactly one bucket, so per-key state never spans tasks.
    """
    return F.pmod(F.xxhash64(*[F.col(c) for c in key_cols]), F.lit(n_buckets)).cast("int")


class CommitConflict(Exception):
    """Another writer committed this version first — reread and retry."""


class LakeTable:
    # merge() consumes a caller-supplied probe (bucket pruning). Sinks
    # without buckets (MergeOnReadTable) leave this False so callers
    # never run a probe job whose result nothing reads.
    supports_probe = True

    def __init__(self, spark: SparkSession, path: str, fs=None):
        self.spark = spark
        self.path = path
        # all metadata/commit IO goes through the fs seam (lake/fs.py);
        # DATA files are Spark reads/writes, already scheme-portable
        self.fs = fs or DEFAULT_FS
        self.meta_dir = os.path.join(path, "_meta")
        self.data_dir = os.path.join(path, "data")

    # ---------------------------------------------------------- create
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        schema: T.StructType,
        key_cols: list[str],
        n_buckets: int = 32,
        fs=None,
    ) -> "LakeTable":
        """Create an empty table. ``schema`` is the payload schema (key
        columns included); ``last_seq``/``deleted`` bookkeeping columns
        are added automatically."""
        t = cls(spark, path, fs=fs)
        # exist_ok: the REAL creation lock is the exclusive v0 commit
        # below, not the dir — makedirs(exist_ok=False) left a crash
        # window (dir created, v0 never committed) after which every
        # re-create failed on the empty _meta dir forever
        t.fs.makedirs(t.meta_dir, exist_ok=True)
        t.fs.makedirs(t.data_dir, exist_ok=True)
        full = T.StructType(
            list(schema.fields)
            + [T.StructField(SEQ_COL, T.LongType()), T.StructField(DELETED_COL, T.BooleanType())]
        )
        meta = {
            "version": 0,
            "parent": None,
            "schema": full.jsonValue(),
            "key_cols": key_cols,
            "n_buckets": n_buckets,
            "buckets": {},  # bucket id (str) -> list of relative file paths
            "epochs": {},  # stream_id -> last applied epoch id
            "lineage": [],
            "stats": {"rows_live": 0, "rows_total": 0},
        }
        try:
            t._write_version(meta)
        except CommitConflict:
            # v0 exists: a LIVE table (committed _current pointer) must
            # be refused; a create that crashed between the v0 write
            # and the pointer swap left a possibly-partial v0 no reader
            # ever saw — drop it and redo the exclusive commit.
            # Concurrent create: two creators that both see no _current
            # can each reach this arm; the remove may then lose a race
            # with the other's remove (tolerated) and the redo may lose
            # the v0 commit to the other's redo (surfaces as
            # FileExistsError once its pointer lands). First committed
            # v0 wins; concurrent create with DIFFERING schemas is
            # undefined — the surviving v0 is whichever creator won.
            if t.fs.exists(os.path.join(t.meta_dir, "_current")):
                raise FileExistsError(f"table already exists at {path}") from None
            try:
                t.fs.remove(os.path.join(t.meta_dir, "v0.json"))
            except FileNotFoundError:
                pass  # the concurrent creator already removed it
            try:
                t._write_version(meta)
            except CommitConflict:
                if t.fs.exists(os.path.join(t.meta_dir, "_current")):
                    raise FileExistsError(
                        f"table already exists at {path}"
                    ) from None
                # the other creator committed v0 but hasn't swapped the
                # pointer yet — its swap is imminent; refuse as exists
                raise FileExistsError(
                    f"concurrent create in progress at {path}"
                ) from None
        return t

    @classmethod
    def load(cls, spark: SparkSession, path: str, fs=None) -> "LakeTable":
        t = cls(spark, path, fs=fs)
        t.current_version()  # raises if missing
        return t

    # ------------------------------------------------------- metadata
    def current_version(self) -> int:
        return int(self.fs.read_text(os.path.join(self.meta_dir, "_current")).strip())

    def meta(self, version: int | None = None) -> dict[str, Any]:
        v = self.current_version() if version is None else version
        return json.loads(self.fs.read_text(os.path.join(self.meta_dir, f"v{v}.json")))

    def schema(self, version: int | None = None) -> T.StructType:
        return T.StructType.fromJson(self.meta(version)["schema"])

    def payload_schema(self, version: int | None = None) -> T.StructType:
        return T.StructType(
            [f for f in self.schema(version).fields if f.name not in (SEQ_COL, DELETED_COL)]
        )

    def _write_version(self, meta: dict[str, Any]) -> None:
        """Atomic commit: exclusive-create v{n}.json (commit lock), then
        swap the _current pointer. Iceberg's version-hint protocol."""
        v = meta["version"]
        vpath = os.path.join(self.meta_dir, f"v{v}.json")
        try:
            # fs.create_exclusive_text is the commit lock (HDFS
            # create-no-overwrite / S3 If-None-Match PUT — lake/fs.py)
            self.fs.create_exclusive_text(vpath, json.dumps(meta))
        except FileExistsError as e:  # lost the race for this version
            raise CommitConflict(f"version {v} already committed") from e
        # fs.replace_text is the atomic pointer swap (HDFS rename /
        # S3 If-Match PUT or catalog pointer row)
        self.fs.replace_text(os.path.join(self.meta_dir, "_current"), str(v))

    # ----------------------------------------------------------- read
    def _files(self, meta: dict[str, Any], buckets: list[int] | None = None) -> list[str]:
        out: list[str] = []
        for b, files in meta["buckets"].items():
            if buckets is None or int(b) in buckets:
                out.extend(os.path.join(self.path, f) for f in files)
        return out

    def read(
        self,
        version: int | None = None,
        buckets: list[int] | None = None,
        include_deleted: bool = False,
    ) -> DataFrame:
        """Read a snapshot. ``buckets`` prunes the scan to the named
        buckets (metadata-level partition pruning — untouched buckets
        are never listed, opened, or scanned)."""
        m = self.meta(version)
        schema = T.StructType.fromJson(m["schema"])
        files = self._files(m, buckets)
        read_schema = T.StructType(
            [T.StructField(BUCKET_COL, T.IntegerType())] + list(schema.fields)
        )
        if not files:
            df = self.spark.createDataFrame([], read_schema)
        else:
            # explicit schema = schema-evolution read path: files written
            # before a column add are read with null for the new column.
            df = self.spark.read.schema(read_schema).parquet(*files)
        if not include_deleted:
            df = df.filter(~F.col(DELETED_COL))
        return df.drop(BUCKET_COL)

    def read_raw(
        self,
        version: int | None = None,
        buckets: list[int] | None = None,
        meta: dict[str, Any] | None = None,
    ) -> DataFrame:
        """Internal read keeping bucket + tombstone columns. ``meta``
        skips the metadata re-read when the caller already parsed it
        (each read_text is a round trip on a remote fs seam)."""
        m = meta if meta is not None else self.meta(version)
        schema = T.StructType.fromJson(m["schema"])
        read_schema = T.StructType(
            [T.StructField(BUCKET_COL, T.IntegerType())] + list(schema.fields)
        )
        files = self._files(m, buckets)
        if not files:
            return self.spark.createDataFrame([], read_schema)
        return self.spark.read.schema(read_schema).parquet(*files)

    # ------------------------------------------------------- changelog
    def changes(self, from_version: int, to_version: int | None = None) -> DataFrame:
        """Incremental changelog between two committed snapshots — the
        Iceberg incremental-read analog, and the lake-side equivalent
        of the reference's outbound Kafka change stream: a downstream
        consumer that processed ``from_version`` reads ONLY what
        changed since.

        Scale shape: the bucket diff is pure METADATA (file lists per
        bucket compared between the two versions); both snapshot reads
        are pruned to the changed buckets, so cost is proportional to
        churn, not table size. One per-bucket key join classifies rows:

          I — absent/tombstoned at from, live at to
          U — live at both, ``last_seq`` advanced
          D — live at from, tombstoned at to (payload = the stored
              tombstone row's values)

        Keys whose ``last_seq`` is unchanged are not emitted;
        tombstone→tombstone seq advances are suppressed (no visible
        change). COW carries every key forward, so the new side is
        complete and a left join suffices."""
        to_version = self.current_version() if to_version is None else to_version
        if from_version > to_version:
            raise ValueError(
                f"changes(): from_version {from_version} > to_version {to_version} "
                "— a reversed range would return an inverted changelog"
            )
        m_from, m_to = self.meta(from_version), self.meta(to_version)
        if (
            m_from["key_cols"] != m_to["key_cols"]
            or m_from["n_buckets"] != m_to["n_buckets"]
        ):
            raise ValueError(
                "changes() across key-column or bucket-count changes is unsupported"
            )
        # overwrite() REBUILDS the bucket map (empty buckets dropped)
        # and resets last_seq — a diff across it would hide deletions
        # and misclassify seq regressions as updates. Refuse the range.
        ow = m_to.get("last_overwrite_version")
        if ow is not None and ow > from_version:
            raise ValueError(
                f"changes(): version range ({from_version}, {to_version}] spans an "
                f"overwrite() at version {ow} — a bulk load is not a change set; "
                "read the snapshot instead"
            )
        changed = sorted(
            int(b)
            for b in m_to["buckets"]
            if m_to["buckets"][b] != m_from["buckets"].get(b)
        )
        key_cols = m_to["key_cols"]
        old = self.read_raw(buckets=changed, meta=m_from).alias("o")
        new = self.read_raw(buckets=changed, meta=m_to).alias("n")
        j = new.join(
            old,
            on=[F.col(f"n.{k}").eqNullSafe(F.col(f"o.{k}")) for k in key_cols],
            how="left",
        )
        o_seq, n_seq = F.col(f"o.{SEQ_COL}"), F.col(f"n.{SEQ_COL}")
        o_live = F.coalesce(~F.col(f"o.{DELETED_COL}"), F.lit(False))
        n_live = ~F.col(f"n.{DELETED_COL}")
        change_op = (
            F.when(~o_live & n_live, "I")
            .when(o_live & ~n_live, "D")
            .when(o_live & n_live, "U")
        )  # tombstone→tombstone stays NULL and is filtered below
        payload = T.StructType(
            [
                f
                for f in T.StructType.fromJson(m_to["schema"]).fields
                if f.name not in (SEQ_COL, DELETED_COL)
            ]
        )
        return (
            j.filter(o_seq.isNull() | (n_seq != o_seq))
            .select(
                *[F.col(f"n.{k}").alias(k) for k in key_cols],
                *[
                    F.col(f"n.{f.name}").alias(f.name)
                    for f in payload.fields
                    if f.name not in key_cols
                ],
                n_seq.alias(SEQ_COL),
                change_op.alias("change_op"),
            )
            .filter(F.col("change_op").isNotNull())
        )

    # --------------------------------------------------- schema evolve
    def evolve_schema(self, batch_payload_schema: T.StructType) -> T.StructType:
        """Union the incoming batch schema into the table schema:
        new columns appended, widenable primitives widened. Returns the
        resulting payload schema. Incompatible changes raise.

        The Iceberg 'ALTER TABLE ADD COLUMN / ALTER COLUMN TYPE before
        MERGE' step of the north rule; the reference analog is a table
        config change regenerating triggers mid-stream
        (import_export_config.rb:86-120, db_trigger.rb:38-92).
        Metadata-only: no data files are rewritten."""
        cur = self.payload_schema()
        by_name = {f.name: f for f in cur.fields}
        changed = False
        for f in batch_payload_schema.fields:
            if f.name in (SEQ_COL, DELETED_COL):
                continue
            if isinstance(f.dataType, T.NullType):
                continue  # all-null column carries no type information
            if f.name not in by_name:
                by_name[f.name] = T.StructField(f.name, f.dataType, True)
                changed = True
            else:
                have = by_name[f.name].dataType
                want = f.dataType
                if have != want:
                    key = (have.typeName(), want.typeName())
                    if key in _WIDEN:
                        by_name[f.name] = T.StructField(f.name, want, True)
                        changed = True
                    elif (want.typeName(), have.typeName()) in _WIDEN:
                        pass  # batch is narrower; cast at merge time
                    else:
                        raise ValueError(
                            f"incompatible type change for {f.name}: {have} -> {want}"
                        )
        # preserve existing column order, append new ones
        cur_names = [f.name for f in cur.fields]
        ordered = [by_name[n] for n in cur_names] + [
            by_name[f.name]
            for f in batch_payload_schema.fields
            if f.name not in cur_names and f.name in by_name
        ]
        new_payload = T.StructType(ordered)
        if changed:
            m = self.meta()
            full = T.StructType(
                list(new_payload.fields)
                + [
                    T.StructField(SEQ_COL, T.LongType()),
                    T.StructField(DELETED_COL, T.BooleanType()),
                ]
            )
            m2 = dict(m)
            m2["version"] = m["version"] + 1
            m2["parent"] = m["version"]
            m2["schema"] = full.jsonValue()
            self._write_version(m2)
        return new_payload

    # ------------------------------------------------ snapshot write
    def _write_tasks(self, n_buckets: int) -> int:
        """Snapshot write tasks for ``n_buckets`` buckets:
        min(buckets, defaultParallelism). Each bucket hashes to exactly
        one task and the partitioned writer closes one file per
        partition value, so a task holding several buckets still writes
        one file per bucket — only the per-task fixed cost (scheduling,
        output committer) stops scaling with the bucket count. One task
        per bucket made a 32-bucket commit on 4 cores pay 32 task setups
        for ~1 % of the keys."""
        return max(1, min(n_buckets, self.spark.sparkContext.defaultParallelism))

    def _write_snapshot(self, df: DataFrame, version: int) -> tuple[str, str]:
        """Write ``df`` (BUCKET_COL + table columns, already hash-
        partitioned on BUCKET_COL by the caller) into a fresh snapshot
        dir, one parquet file per bucket; returns the dir (relative,
        absolute).

        The dir name carries a uuid suffix for the same reason the
        append log's segments do (append_log.py:15-17): a hard crash
        BETWEEN this parquet write and the _write_version commit leaves
        an orphan dir that no metadata references — the foreachBatch
        replay of the epoch recomputes the same version (metadata never
        advanced), and a version-derived name would collide with the
        orphan ("path already exists") and wedge the stream until
        someone hand-deletes it. With the uuid the replay stages a FRESH
        dir and commits normally; expire_snapshots' liveness walk reaps
        the orphan's files."""
        snap_rel = os.path.join("data", f"snap-{version}-{uuid.uuid4().hex[:8]}")
        snap_dir = os.path.join(self.path, snap_rel)
        (
            df.withColumn(PART_COL, F.col(BUCKET_COL))
            .write.partitionBy(PART_COL)
            .parquet(snap_dir, mode="errorifexists")
        )
        return snap_rel, snap_dir

    def _bucket_files(self, snap_rel: str, buckets) -> dict[str, list[str]]:
        """Table-relative parquet files per bucket id (str, the metadata
        key) of a staged snapshot; an empty list for a bucket the write
        left without rows."""
        out: dict[str, list[str]] = {}
        for b in buckets:
            rel = os.path.join(snap_rel, f"{PART_COL}={b}")
            bdir = os.path.join(self.path, rel)
            out[str(b)] = (
                [os.path.join(rel, f) for f in sorted(self.fs.listdir(bdir)) if f.endswith(".parquet")]
                if self.fs.isdir(bdir)
                else []
            )
        return out

    # ---------------------------------------------------------- merge
    def merge(
        self,
        batch: DataFrame,
        seq_col: str = "seq",
        op_col: str = "op",
        stream_id: str = "default",
        epoch_id: int | None = None,
        lineage_extra: dict[str, Any] | None = None,
        probe: "list[int] | None" = None,
        pre_commit: "Any | None" = None,
    ) -> dict[str, Any]:
        """LWW MERGE of a change batch into the table.

        ``batch`` carries ``seq_col`` (monotone per key) + ``op_col``
        ('I'/'U'/'D') and may hold several rows per key: the merge
        resolves last-writer-wins within the batch and against the
        stored row in the same aggregate.

        Semantics per key (the Iceberg MERGE INTO the north rule names):
          WHEN MATCHED  AND s.seq > t.last_seq AND s.op =  'D' → tombstone
          WHEN MATCHED  AND s.seq > t.last_seq AND s.op != 'D' → update
          WHEN MATCHED  AND s.seq <= t.last_seq               → keep t
          WHEN NOT MATCHED                                     → insert
        Cross-batch ordering (SURVEY §7.3 hard part 2) is exactly the
        ``s.seq > t.last_seq`` guard — a later micro-batch can never
        apply an older change over a newer one, mirroring the worker
        high-water mark @max_key_event_logs_id (transfer_thread.rb:40).
        A NULL batch seq loses to any stored row with a seq; a stored
        row with a NULL ``last_seq`` loses to any batch row. Null key
        columns compare equal (one key per null combination).

        Returns the lineage record. If ``epoch_id`` is already fenced
        for ``stream_id`` the call is a NO-OP and returns the fence
        record instead (idempotent retry).

        ``probe``: the touched-bucket list from a caller that already
        ran the probe job itself (apply_batch_flagged folds it into the
        job that builds the micro-batch cache and counts poison — one
        fewer action per epoch). The batch plan then runs exactly once,
        inside the snapshot write job; the written-outside-touched
        commit guard below fails loudly if the caller's probe diverges
        from the batch keys.

        ``pre_commit``: zero-arg callable invoked after the snapshot
        write but BEFORE the metadata commit. The caller's barrier for
        work that must durably precede this commit (the dead-letter
        append runs concurrently with the snapshot write — guide §2.6
        overlapping independent jobs — and is joined here so the
        poison-before-merge-commit crash ordering is preserved). If it
        raises, the staged snapshot is dropped and nothing commits.
        """
        m = self.meta()
        if epoch_id is not None:
            last = m["epochs"].get(stream_id)
            if last is not None and epoch_id <= last:
                return {"skipped": True, "stream_id": stream_id, "epoch_id": epoch_id}

        key_cols = m["key_cols"]
        n_buckets = m["n_buckets"]
        payload = self.payload_schema()
        pay_names = [f.name for f in payload.fields]
        rest = [n for n in pay_names if n not in key_cols]

        # align batch payload to table schema: missing cols -> null,
        # narrower types -> cast up (schema-evolution tolerant apply).
        # _RANK orders a stored row against batch rows of the same seq.
        batch_names = set(batch.columns)
        src = batch.select(
            bucket_expr(key_cols, n_buckets).alias(BUCKET_COL),
            *[
                (F.col(f.name).cast(f.dataType) if f.name in batch_names else F.lit(None).cast(f.dataType)).alias(f.name)
                for f in payload.fields
            ],
            F.col(seq_col).cast("long").alias(SEQ_COL),
            (F.col(op_col) == F.lit("D")).alias(DELETED_COL),
            F.lit(0).alias(_RANK),
        )

        import time as _time

        # per-phase wall timings, recorded in the lineage so driver-side
        # epoch cost is observable in production (and adjudicable in
        # BENCH_SCALING.md) without ad-hoc instrumentation
        timings: dict[str, float] = {}
        _t = _time.monotonic()

        # bucket pruning: which buckets does this batch touch?
        src_cached = probe is None
        if probe is not None:
            # caller-supplied probe (see docstring): no collect here at
            # all — the heavy batch plan runs exactly once, inside the
            # snapshot write job
            touched = sorted(int(b) for b in probe)
        else:
            # Generic path (uncached batch): persist src — otherwise the
            # whole upstream pipeline (scan/filter/LWW) would run twice,
            # once for this collect and again for the snapshot write.
            src = src.persist()
            touched = [r[0] for r in src.select(BUCKET_COL).distinct().collect()]
        timings["probe_s"] = round(_time.monotonic() - _t, 4)
        if not touched:
            if src_cached:
                src.unpersist()
            return {"skipped": True, "reason": "empty batch"}

        # One exchange: batch rows ∪ stored rows of the touched buckets,
        # hash-partitioned on the bucket alone — that already clusters
        # every (bucket, key) group, so the per-key aggregate adds no
        # second exchange and its sorted output satisfies the
        # partitionBy write without another sort. The winner per key is
        # the greatest (seq, rank): a stored row (rank 1) beats a batch
        # row of EQUAL seq (rank 0) — the s.seq > t.last_seq guard — and
        # a stored row with a NULL last_seq (rank -1) loses to every
        # batch row.
        stored = self.read_raw(buckets=touched, meta=m).select(
            BUCKET_COL,
            *pay_names,
            SEQ_COL,
            F.coalesce(F.col(DELETED_COL), F.lit(False)).alias(DELETED_COL),
            F.when(F.col(SEQ_COL).isNull(), F.lit(-1)).otherwise(F.lit(1)).alias(_RANK),
        )
        result = (
            src.unionByName(stored)
            .repartition(self._write_tasks(len(touched)), F.col(BUCKET_COL))
            .groupBy(BUCKET_COL, *key_cols)
            .agg(
                F.max_by(
                    F.struct(*rest, DELETED_COL), F.struct(SEQ_COL, _RANK)
                ).alias("__w"),
                F.max(F.coalesce(F.col(SEQ_COL), F.lit(-1).cast("long"))).alias(SEQ_COL),
            )
            .select(
                BUCKET_COL,
                *[F.col(n) if n in key_cols else F.col(f"__w.{n}").alias(n) for n in pay_names],
                SEQ_COL,
                F.col(f"__w.{DELETED_COL}").alias(DELETED_COL),
            )
        )

        # Write only the touched buckets into a fresh snapshot dir
        # (uuid-named: crash-replay safety, see _write_snapshot).
        new_version = m["version"] + 1
        _t = _time.monotonic()
        try:
            snap_rel, snap_dir = self._write_snapshot(result, new_version)
        finally:
            if src_cached:
                src.unpersist()
        timings["write_s"] = round(_time.monotonic() - _t, 4)
        _t = _time.monotonic()

        # Contract guard: the snapshot commit only adopts buckets in
        # `touched`. If the write produced a bucket OUTSIDE that set,
        # the probe's key set diverged from the batch's — those
        # rows would be silently orphaned (written but never listed),
        # i.e. lost. Fail loudly and drop the staged snapshot instead.
        written = {
            int(d.split("=", 1)[1])
            for d in self.fs.listdir(snap_dir)
            if d.startswith(f"{PART_COL}=")
        }
        extra = written - set(touched)
        if extra:
            self.fs.rmtree(snap_dir)
            raise RuntimeError(
                f"merge wrote buckets {sorted(extra)} outside the probed "
                f"touched set {sorted(touched)} — probe keys diverge "
                "from the batch keys; snapshot aborted, nothing committed"
            )

        # the new file list per touched bucket; a bucket with no rows
        # left (everything merged away) gets an empty list
        new_buckets: dict[str, list[str]] = dict(m["buckets"])
        new_buckets.update(self._bucket_files(snap_rel, touched))

        timings["listing_s"] = round(_time.monotonic() - _t, 4)
        lineage = {
            "version": new_version,
            "stream_id": stream_id,
            "epoch_id": epoch_id,
            "buckets_touched": sorted(touched),
            "buckets_total": n_buckets,
            "timings": timings,
        }
        if lineage_extra:
            lineage.update(lineage_extra)

        m2 = dict(m)
        m2["version"] = new_version
        m2["parent"] = m["version"]
        m2["buckets"] = new_buckets
        m2["epochs"] = dict(m["epochs"])
        if epoch_id is not None:
            m2["epochs"][stream_id] = epoch_id
        m2["lineage"] = (m.get("lineage") or [])[-99:] + [lineage]
        if pre_commit is not None:
            # join the caller's concurrent must-precede-commit work
            # (see docstring); a failure here aborts the snapshot
            _t = _time.monotonic()
            try:
                pre_commit()
            except Exception:
                self.fs.rmtree(snap_dir)
                raise
            timings["pre_commit_wait_s"] = round(_time.monotonic() - _t, 4)
        _t = _time.monotonic()
        try:
            self._write_version(m2)
        except CommitConflict:
            self.fs.rmtree(snap_dir)
            raise
        timings["commit_s"] = round(_time.monotonic() - _t, 4)
        return lineage

    def merge_with_retry(self, batch: DataFrame, max_attempts: int = 3, **kw) -> dict[str, Any]:
        """Optimistic-concurrency merge: on CommitConflict (another
        writer took this version) re-read the metadata and re-merge —
        the staged snapshot of the losing attempt is already cleaned up
        by merge(), and the epoch fence still deduplicates if the other
        writer committed the SAME epoch. Iceberg's commit-retry loop."""
        last: Exception | None = None
        for _ in range(max_attempts):
            try:
                return self.merge(batch, **kw)
            except CommitConflict as e:
                last = e
        raise last

    # ------------------------------------------------------ overwrite
    def overwrite(self, df: DataFrame, seq_value: int = 0) -> None:
        """Bulk load (initial snapshot bootstrap, reference S8:
        db_trigger_generator_oracle.rb:499-569). Replaces all data."""
        m = self.meta()
        n_buckets = m["n_buckets"]
        key_cols = m["key_cols"]
        payload = self.payload_schema()
        names = set(df.columns)
        out = df.withColumn(BUCKET_COL, bucket_expr(key_cols, n_buckets)).select(
            F.col(BUCKET_COL),
            *[
                (F.col(f.name).cast(f.dataType) if f.name in names else F.lit(None).cast(f.dataType)).alias(f.name)
                for f in payload.fields
            ],
            (F.col(SEQ_COL).cast("long") if SEQ_COL in names else F.lit(seq_value).cast("long")).alias(SEQ_COL),
            (F.col(DELETED_COL) if DELETED_COL in names else F.lit(False)).alias(DELETED_COL),
        )
        new_version = m["version"] + 1
        snap_rel, _ = self._write_snapshot(
            out.repartition(self._write_tasks(n_buckets), F.col(BUCKET_COL)), new_version
        )
        buckets = {
            b: files for b, files in self._bucket_files(snap_rel, range(n_buckets)).items() if files
        }
        m2 = dict(m)
        m2["version"] = new_version
        m2["parent"] = m["version"]
        m2["buckets"] = buckets
        # changes() refuses ranges spanning a bulk load (bucket map
        # rebuilt, seqs reset — not a change set)
        m2["last_overwrite_version"] = new_version
        self._write_version(m2)

    # --------------------------------------------------- housekeeping
    def expire_snapshots(self, keep_last: int = 2) -> int:
        """Drop data files only referenced by snapshots older than the
        last ``keep_last`` versions (Iceberg expire_snapshots; the
        reference analog is dropping drained Event_Logs partitions,
        housekeeping.rb:45-107). Returns number of files removed."""
        cur = self.current_version()
        keep_versions = set(range(max(0, cur - keep_last + 1), cur + 1))
        live: set[str] = set()
        for v in keep_versions:
            try:
                m = self.meta(v)
            except FileNotFoundError:
                continue
            for files in m["buckets"].values():
                live.update(files)
        removed = 0
        for entry in sorted(self.fs.listdir(self.data_dir)):
            top = os.path.join(self.data_dir, entry)
            if not self.fs.isdir(top):
                continue
            # In-flight-writer guard: a dir staged by an optimistic
            # writer that has not committed yet has files in NO listing
            # — indistinguishable from a dead dir except by version. A
            # loser that read version v stages at v+1, which can trail
            # the head by however long its write takes, so the reap
            # horizon gets the SAME keep_last grace the file-retention
            # horizon uses: only dirs at <= cur - keep_last are
            # eligible. Crash orphans age into eligibility as commits
            # advance; a writer still staging keep_last commits behind
            # the head would lose its CommitConflict race anyway (its
            # write failing uncleanly instead is the documented residual
            # of running expire concurrently with very slow writers).
            m_ver = re.match(r"snap-(\d+)(?:-|$)", entry)
            if m_ver and int(m_ver.group(1)) > cur - keep_last:
                continue
            pq: list[str] = []
            for root, _dirs, files in self.fs.walk(top):
                pq.extend(
                    os.path.relpath(os.path.join(root, f), self.path)
                    for f in files
                    if f.endswith(".parquet")
                )
            if m_ver and not pq:
                # writer died BEFORE any part file landed: the staged
                # dir holds only _temporary/_SUCCESS remnants, so it is
                # in no listing and has no parquet to test for liveness
                # — past the horizon it is dead; reap it or it leaks
                # forever
                self.fs.rmtree(top)
                continue
            if pq and not any(p in live for p in pq):
                # snapshot dir with NO live files — expired version or a
                # crash-orphaned staged dir (uuid-named, never committed):
                # drop the whole dir, _SUCCESS/.crc remnants included
                self.fs.rmtree(top)
                removed += len(pq)
            else:
                for p in pq:
                    if p not in live:
                        self.fs.remove(os.path.join(self.path, p))
                        removed += 1
        return removed
