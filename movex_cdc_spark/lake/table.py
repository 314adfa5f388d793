"""Snapshot-versioned, hash-bucketed lake table with MERGE upsert.

This is the engine's sink — the role Iceberg ``MERGE INTO`` plays in
the north rule. The sandbox ships no Iceberg runtime jar, so the table
format is implemented here with the same contract Iceberg gives us:

  * **atomic snapshot commit** — a new metadata JSON is committed and
    the current-version pointer swapped atomically (Iceberg's atomic
    metadata swap); readers only ever see a committed version. The
    protocol (commit lock, pointer swap through the ``lake/fs.py``
    seam, crash-redo create, uuid-named staging) is
    ``lake/versioned.py``, shared with the append log.
  * **per-bucket file lists** — the table is hash-bucketed on its key
    columns, and the metadata names, per bucket, a BASE file (one row
    per key, written by a copy-on-write merge under
    ``snap-{v}-{uuid}/__bucket_part={b}/``) followed by the DELTA files
    committed after it, oldest first. A delta file is one bucket-sorted
    parquet file directly under its ``snap-{v}-{uuid}/`` dir; it holds
    one epoch's change rows, un-deduped, for every bucket that epoch
    touched, so the same delta file is named in several lists.
  * **two write arms per merge** — while no touched bucket would hold
    more than ``MAX_DELTA_DEPTH`` delta files, a merge appends ONE
    delta file (no stored-side read, no exchange, no aggregate);
    otherwise it runs the copy-on-write merge over base ∪ deltas of
    the touched buckets and of any bucket already at the bound, which
    writes each one a fresh base file and drops its deltas —
    compaction is just that merge. Untouched buckets carry their lists
    forward by reference, so cost is proportional to touched data, not
    table size.
  * **one fold** — readers (``read``, ``read_raw``, ``changes``) and
    the merge's stored side resolve each key by the greatest
    ``(seq, rank)``: a base row beats any delta row of the same seq,
    an earlier delta beats a later one, a merge's batch rows lose every
    tie, and a base row with a NULL ``last_seq`` loses to every other
    row. A read of bucket *b* folds exactly the files *b*'s list names;
    buckets without deltas are read as-is.
  * **epoch-id fencing in the same commit** — the per-stream epoch
    fence of ``lake/versioned.py`` moves with the data swap, so a
    ``foreachBatch`` retry of an already-applied epoch is a no-op. Both
    write arms commit this way.
  * **schema evolution** — column adds and int→long / float→double
    widening (``union_schema``, versioned.py) recorded per snapshot;
    old files are read with the new schema (missing columns → null).
    A merge widens the table to its batch first, as its own commit
    (``_alter``): the Iceberg ALTER-before-MERGE analog.
  * **time travel** — any committed version can be read back.
  * **tombstones** — deletes keep ``(key, last_seq, deleted=true)`` so
    a late event with a LOWER seq can never resurrect a deleted row,
    while a genuinely newer insert can (SURVEY §7.3 hard part 5).

On a real cluster every piece of this maps 1:1 onto Iceberg catalog
calls (base files + merge-on-read delete/data deltas); the class is
deliberately small so that swap is mechanical.
"""

from __future__ import annotations

import os
import re
import time
from functools import cached_property, reduce
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from movex_cdc_spark.lake.versioned import CommitConflict, VersionedStore, union_schema
from movex_cdc_spark.session import jstrings, observe_noop, select_sql
from movex_cdc_spark.sqltext import cast, ident, in_list

BUCKET_COL = "__bucket"
PART_COL = "__bucket_part"  # duplicated for partitionBy (dir layout)
SEQ_COL = "last_seq"
DELETED_COL = "deleted"
_RANK = "__rank"  # fold tie-break between rows of equal seq (module docstring)
# rank of a base row with a NULL last_seq: below every delta and batch row
_NULL_BASE_RANK = -(1 << 62)
_SNAP = os.path.join("data", "snap")  # staged snapshot dirs: data/snap-{v}-{uuid}
_BOOKKEEPING = [T.StructField(SEQ_COL, T.LongType()), T.StructField(DELETED_COL, T.BooleanType())]

# Delta files a bucket may hold before a merge touching it compacts it
# (runs the copy-on-write arm). Measured on this table with
# ``bench.py --delta-depth`` (200k events as 40 epochs of 5k rows into
# 32 buckets, a consumer read of the whole table every 8 epochs, 4 vCPU,
# three runs, all final states identical; BENCH_SCALING.md), median
# write+read wall [range]: depth 0 (eager COW) 77.9 s [77.8, 83.6] /
# depth 1 53.1 s [49.9, 55.6] / depth 4 47.2 s [46.2, 49.3] / depth 9
# 46.3 s [40.1, 47.5] / never 49.0 s [47.1, 51.2]. The curve is
# U-shaped: too-eager compaction re-pays the bucket rewrite, too-lazy
# makes every read fold more deltas (read wall 2.3–2.5 s at depth 4,
# 2.9–3.4 s at 9, 10.6–11.3 s never). Depths 4 and 9 tie within the
# run-to-run spread; 4 keeps the read side, which grows with depth,
# the cheaper one.
MAX_DELTA_DEPTH = 4


def _is_delta(rel: str) -> bool:
    """A delta file sits directly under its snapshot dir; base files
    sit in the dir's ``__bucket_part=`` partitions."""
    return f"{PART_COL}=" not in rel


def _depth(files: list[str]) -> int:
    return sum(map(_is_delta, files))


def _payload(m: dict[str, Any]) -> T.StructType:
    """The payload schema of metadata ``m``: its schema without the
    ``last_seq``/``deleted`` bookkeeping columns."""
    return T.StructType([
        f for f in T.StructType.fromJson(m["schema"]).fields if f.name not in (SEQ_COL, DELETED_COL)
    ])


def _aligned(names, payload: T.StructType) -> list[str]:
    """``payload``'s columns (SQL text) from a frame with column
    ``names``, cast to their committed types; a typed NULL where the
    frame lacks one."""
    return [
        f"{cast(ident(f.name) if f.name in names else 'NULL', f.dataType)} AS {ident(f.name)}"
        for f in payload.fields
    ]


def _file_version(rel: str) -> int:
    return int(re.search(r"snap-(\d+)-", rel).group(1))


def bucket_sql(key_cols: list[str], n_buckets: int, key_sql=ident) -> str:
    """Deterministic key→bucket assignment: pmod(xxhash64(keys), n).

    Same role as the reference's MOD(ORA_HASH(Msg_Key,1e6), workers)
    worker-affinity slice (transfer_thread.rb:239-242): every key maps
    to exactly one bucket, so per-key state never spans tasks.
    ``key_sql`` maps a key column to the SQL text that computes it.
    """
    return f"CAST(pmod(xxhash64({', '.join(map(key_sql, key_cols))}), {int(n_buckets)}) AS INT)"


def bucket_expr(key_cols: list[str], n_buckets: int):
    return F.expr(bucket_sql(key_cols, n_buckets))


_DIVERGED_MARK = "LAKE_MERGE_BUCKET_OUTSIDE_PROBE"


def _diverged(extra, touched) -> str:
    outside = f"buckets {extra}" if extra else "rows"
    return (
        f"merge wrote {outside} outside the probed touched set {touched} — "
        "probe keys diverge from the batch keys; snapshot aborted, nothing committed"
    )


class LakeTable(VersionedStore):
    # commit, fence, create and staging: lake/versioned.py
    data_dir = property(lambda self: os.path.join(self.path, "data"))

    @cached_property
    def _layout(self) -> tuple[list[str], int]:
        # read once per loaded handle (``create`` sets it): no commit
        # changes the key columns or the bucket count
        m = self.meta()
        return m["key_cols"], m["n_buckets"]

    key_cols = property(lambda self: self._layout[0])
    n_buckets = property(lambda self: self._layout[1])

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
        t.fs.makedirs(t.data_dir, exist_ok=True)
        t._create({
            "version": 0,
            "parent": None,
            "schema": T.StructType(schema.fields + _BOOKKEEPING).jsonValue(),
            "key_cols": key_cols,
            "n_buckets": n_buckets,
            "buckets": {},  # bucket id (str) -> base file(s), then deltas oldest first
            "epochs": {},  # stream_id -> last applied epoch id
            "lineage": [],
            "stats": {"rows_live": 0, "rows_total": 0},
        })
        t._layout = (key_cols, n_buckets)
        return t

    # ------------------------------------------------------- metadata
    def payload_schema(self, version: int | None = None) -> T.StructType:
        return _payload(self.meta(version))

    # ----------------------------------------------------------- read
    def _scan(self, m: dict[str, Any], files: list[str]) -> DataFrame:
        """BUCKET_COL + table columns of ``files``. The explicit schema is
        the schema-evolution read path: files written before a column
        add are read with null for the new column."""
        schema = T.StructType.fromJson(m["schema"])
        read_schema = T.StructType(
            [T.StructField(BUCKET_COL, T.IntegerType())] + list(schema.fields)
        )
        if not files:
            return self.spark.createDataFrame([], read_schema)
        reader = self.spark.read.schema(read_schema)._jreader
        paths = jstrings(self.spark, [os.path.join(self.path, f) for f in files])
        return DataFrame(reader.parquet(paths), self.spark)

    @staticmethod
    def _lists(m: dict[str, Any], buckets) -> dict[int, list[str]]:
        return {
            int(b): files
            for b, files in m["buckets"].items()
            if buckets is None or int(b) in buckets
        }

    def _stored(self, m: dict[str, Any], buckets) -> DataFrame:
        """Every stored row of ``buckets``, unfolded, with its fold rank:
        0 for base rows (``_NULL_BASE_RANK`` when ``last_seq`` is NULL)
        and −version for the rows of the delta file committed at that
        version. One scan for the base files, one per delta file,
        filtered to the requested buckets whose lists name it."""
        base: list[str] = []
        deltas: dict[str, list[int]] = {}
        for b, files in self._lists(m, buckets).items():
            for f in files:
                if _is_delta(f):
                    deltas.setdefault(f, []).append(b)
                else:
                    base.append(f)
        names = [BUCKET_COL, *T.StructType.fromJson(m["schema"]).fieldNames()]
        cols = list(map(ident, names))
        parts = []
        if base or not deltas:
            parts.append(select_sql(self._scan(m, base), [
                *cols, f"CASE WHEN {ident(SEQ_COL)} IS NULL THEN {_NULL_BASE_RANK} ELSE 0 END AS {_RANK}",
            ]))
        for f, bs in sorted(deltas.items()):
            parts.append(select_sql(
                self._scan(m, [f]).filter(in_list(BUCKET_COL, sorted(bs))),
                [*cols, f"CAST({-_file_version(f)} AS BIGINT) AS {_RANK}"],
            ))
        deleted = f"coalesce({ident(DELETED_COL)}, false) AS {ident(DELETED_COL)}"
        return select_sql(reduce(DataFrame.unionByName, parts), [
            *(deleted if n == DELETED_COL else ident(n) for n in names), _RANK,
        ])

    def _fold(self, rows: DataFrame, m: dict[str, Any], n_buckets: int) -> DataFrame:
        """One row per (bucket, key): the payload and tombstone flag of
        the greatest ``(seq, rank)`` (NULL seq orders lowest), with
        ``last_seq = max(coalesce(seq, -1))``. The read-time fold and the
        copy-on-write merge's aggregate are this same plan: ONE exchange,
        hash-partitioned on the bucket alone into ``_write_tasks`` tasks
        — that already clusters every (bucket, key) group, so the
        aggregate adds no second exchange, and its sorted output
        satisfies the merge's partitionBy write without another sort."""
        key_cols = m["key_cols"]
        names = _payload(m).fieldNames()
        rest = ", ".join(ident(n) for n in names if n not in key_cols)
        seq = ident(SEQ_COL)
        folded = (
            rows.repartition(self._write_tasks(n_buckets), F.col(BUCKET_COL))
            .groupBy(BUCKET_COL, *key_cols)
            .agg(
                F.expr(f"max_by(struct({rest}, {ident(DELETED_COL)}), struct({seq}, {_RANK})) AS __w"),
                F.expr(f"max(coalesce({seq}, CAST(-1 AS BIGINT))) AS {seq}"),
            )
        )
        return select_sql(folded, [
            BUCKET_COL,
            *(ident(n) if n in key_cols else f"__w.{ident(n)} AS {ident(n)}" for n in names),
            seq,
            f"__w.{ident(DELETED_COL)} AS {ident(DELETED_COL)}",
        ])

    def read(
        self,
        version: int | None = None,
        buckets: list[int] | None = None,
        include_deleted: bool = False,
    ) -> DataFrame:
        """Read a snapshot. ``buckets`` prunes the scan to the named
        buckets (metadata-level partition pruning — untouched buckets
        are never listed, opened, or scanned)."""
        df = self.read_raw(version, buckets)
        if not include_deleted:
            df = df.filter(f"NOT {ident(DELETED_COL)}")
        return df.drop(BUCKET_COL)

    def read_raw(
        self,
        version: int | None = None,
        buckets: list[int] | None = None,
        meta: dict[str, Any] | None = None,
    ) -> DataFrame:
        """Internal read keeping bucket + tombstone columns, one row per
        key: buckets with delta files are folded, the rest read as-is.
        ``meta`` skips the metadata re-read when the caller already
        parsed it (each read_text is a round trip on a remote fs seam)."""
        m = meta if meta is not None else self.meta(version)
        lists = self._lists(m, buckets)
        folded = sorted(b for b, files in lists.items() if _depth(files))
        plain = [f for b, files in lists.items() if b not in folded for f in files]
        if not folded:
            return self._scan(m, plain)
        out = self._fold(self._stored(m, folded), m, len(folded))
        return self._scan(m, plain).unionByName(out) if plain else out

    # ------------------------------------------------------- changelog
    def changes(self, from_version: int, to_version: int | None = None) -> DataFrame:
        """Incremental changelog between two committed snapshots — the
        Iceberg incremental-read analog, and the lake-side equivalent
        of the reference's outbound Kafka change stream: a downstream
        consumer that processed ``from_version`` reads ONLY what
        changed since.

        Scale shape: the bucket diff is pure METADATA (file lists per
        bucket compared between the two versions: a delta epoch appends
        to them, a compaction replaces them); both snapshot reads are
        pruned to the changed buckets and FOLDED (``read_raw``), so the
        two sides are resolved states whatever mix of delta epochs and
        compactions lies between them, and cost is proportional to
        churn, not table size. One per-bucket key join classifies rows:

          I — absent/tombstoned at from, live at to
          U — live at both, ``last_seq`` advanced
          D — live at from, tombstoned at to (payload = the stored
              tombstone row's values)

        Keys whose ``last_seq`` is unchanged are not emitted;
        tombstone→tombstone seq advances are suppressed (no visible
        change). Every key a bucket held at ``from`` is still in its
        folded state at ``to`` (tombstones included), so the new side is
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
        payload = _payload(m_to)
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
        resulting payload schema. Incompatible changes raise. ``merge``
        runs the same step (``_alter``) on its own metadata read."""
        return _payload(self._alter(self.meta(), batch_payload_schema.fields))

    def _alter(self, m: dict[str, Any], fields: list[T.StructField]) -> dict[str, Any]:
        """``m`` with ``fields`` unioned into its payload schema, a widened
        schema committed as its own version: the Iceberg 'ALTER TABLE
        ADD COLUMN / ALTER COLUMN TYPE before MERGE' step (reference: a
        config change regenerating triggers, import_export_config.rb:
        86-120, db_trigger.rb:38-92). Metadata-only."""
        payload, changed = union_schema(_payload(m), T.StructType([
            f for f in fields if f.name not in (SEQ_COL, DELETED_COL)
        ]))
        if changed:
            m = self._next(m, parent=m["version"],
                           schema=T.StructType(payload.fields + _BOOKKEEPING).jsonValue())
            self._write_version(m)
        return m

    # ------------------------------------------------ snapshot write
    def _write_tasks(self, n_buckets: int) -> int:
        """Fold (and so snapshot write) tasks for ``n_buckets`` buckets:
        min(buckets, defaultParallelism). Each bucket hashes to exactly
        one task and the partitioned writer closes one file per
        partition value, so a task holding several buckets still writes
        one file per bucket — only the per-task fixed cost (scheduling,
        output committer) stops scaling with the bucket count. One task
        per bucket made a 32-bucket commit on 4 cores pay 32 task setups
        for ~1 % of the keys."""
        return max(1, min(n_buckets, self.spark.sparkContext.defaultParallelism))

    def _write_snapshot(self, df: DataFrame, version: int) -> tuple[str, dict[int, list[str]]]:
        """Write ``df`` (BUCKET_COL + table columns, already
        hash-partitioned on BUCKET_COL) as base files, one parquet file
        per bucket, into a fresh snapshot dir; returns the dir (relative)
        and the table-relative files of each bucket the write gave rows,
        by bucket id."""
        rel, files = self._stage(
            select_sql(df, ["*", f"{BUCKET_COL} AS {PART_COL}"]).write.partitionBy(PART_COL),
            _SNAP, version,
        )
        by_bucket: dict[int, list[str]] = {}
        for f in files:
            b = int(re.search(rf"{PART_COL}=(\d+)", f).group(1))
            by_bucket.setdefault(b, []).append(f)
        return rel, dict(sorted(by_bucket.items()))

    # ---------------------------------------------------------- merge
    def merge(
        self,
        batch: DataFrame,
        seq_col: str = "seq",
        op_col: str = "op",
        stream_id: str = "default",
        epoch_id: int | None = None,
        probe: "list[int] | None" = None,
        probe_rows: int | None = None,
        pre_commit: "Any | None" = None,
    ) -> dict[str, Any]:
        """LWW MERGE of a change batch into the table.

        ``batch`` carries ``seq_col`` (monotone per key) + ``op_col``
        ('I'/'U'/'D') and may hold several rows per key: last-writer-
        wins is resolved by the fold (module docstring), within the
        batch and against the stored rows alike.

        Semantics per key (the Iceberg MERGE INTO the north rule names):
          WHEN MATCHED  AND s.seq > t.last_seq AND s.op =  'D' → tombstone
          WHEN MATCHED  AND s.seq > t.last_seq AND s.op != 'D' → update
          WHEN MATCHED  AND s.seq <= t.last_seq               → keep t
          WHEN NOT MATCHED                                     → insert
        Cross-batch ordering (SURVEY §7.3 hard part 2) is exactly the
        ``s.seq > t.last_seq`` guard — a later micro-batch can never
        apply an older change over a newer one, mirroring the worker
        high-water mark @max_key_event_logs_id (transfer_thread.rb:40).
        A NULL batch seq loses to any stored row with a seq; a base row
        with a NULL ``last_seq`` loses to any batch row. Null key
        columns compare equal (one key per null combination).

        Write arm: while every touched bucket holds fewer than
        ``MAX_DELTA_DEPTH`` delta files, the batch rows are appended as
        ONE delta file (``write_mode`` "delta"); otherwise the touched
        buckets, and every other bucket already at the bound, are
        rewritten from base ∪ deltas ∪ batch (``write_mode`` "cow",
        which compacts them; ``buckets_touched`` lists them all). Both
        arms commit through the same epoch-fenced pointer swap, and
        readers see the same state.

        Schema: every batch column but ``seq_col`` and ``op_col`` is
        payload. A batch wider than the table (a new column, a widened
        primitive) commits the widened schema as its own version, from
        the same metadata read, before anything is staged.

        Returns the lineage record. If ``epoch_id`` is already fenced
        for ``stream_id`` the call is a NO-OP and returns the fence
        record instead (idempotent retry).

        ``probe``: the touched-bucket list from a caller that already
        probed the batch (the apply flows' ``probe_tables`` job, which
        also counts their counters and poison), with ``probe_rows`` the
        batch rows it counted. Without it, merge probes the batch's
        keys in one job itself, so the batch plan runs
        once for the probe and once for the write: a caller with an
        expensive plan persists the batch first. A commit guard fails
        loudly if the probe diverges from the batch keys.

        ``pre_commit``: zero-arg callable run at the store's barrier
        (``VersionedStore._barrier``), after the snapshot write and
        before the metadata commit: the keyed apply joins its
        overlapped dead-letter append there. If it raises, the staged
        snapshot is dropped and nothing commits.
        """
        m = self.meta()
        if self.fenced(m, stream_id, epoch_id):
            return {"skipped": True, "stream_id": stream_id, "epoch_id": epoch_id}
        m = self._alter(m, [f for f in batch.schema.fields if f.name not in (seq_col, op_col)])

        new_version = m["version"] + 1
        # Batch rows rank below every stored row: they lose each tie.
        src = select_sql(batch, [
            f"{bucket_sql(m['key_cols'], m['n_buckets'])} AS {BUCKET_COL}",
            *_aligned(batch.columns, _payload(m)),
            f"CAST({ident(seq_col)} AS BIGINT) AS {SEQ_COL}",
            f"({ident(op_col)} = 'D') AS {DELETED_COL}",
            f"CAST({-new_version} AS BIGINT) AS {_RANK}",
        ])

        # per-phase wall timings, recorded in the lineage so driver-side
        # epoch cost is observable in production (and adjudicable in
        # BENCH_SCALING.md) without ad-hoc instrumentation
        timings: dict[str, float] = {}
        _t = time.monotonic()

        if probe is None:
            got = observe_noop(select_sql(batch, list(map(ident, m["key_cols"]))), rows="count(1)",
                               touched=f"collect_set({bucket_sql(m['key_cols'], m['n_buckets'])})")
            probe, probe_rows = got["touched"], got["rows"]
        touched = sorted(int(b) for b in probe)
        timings["probe_s"] = round(time.monotonic() - _t, 4)
        if not touched:
            return {"skipped": True, "reason": "empty batch"}

        delta = all(_depth(m["buckets"].get(str(b), [])) < MAX_DELTA_DEPTH for b in touched)
        if not delta:
            # A bucket whose deltas already reach the bound is rewritten
            # by the next merge that touches it anyway; folding it into
            # this write job keeps an epoch that missed it from costing
            # a second full rewrite right after this one.
            touched = sorted(set(touched).union(
                int(b) for b, files in m["buckets"].items()
                if _depth(files) >= max(MAX_DELTA_DEPTH, 1)
            ))
        stage = self._stage_delta if delta else self._stage_cow
        snap_rel, lists, rows = stage(m, src, touched, new_version, timings)
        lineage = {
            "stream_id": stream_id,
            "epoch_id": epoch_id,
            "buckets_touched": touched,
            "write_mode": "delta" if delta else "cow",
            # the delta file holds exactly the batch rows the probe counted
            "rows_written": probe_rows if delta else rows,
        }
        return self._commit(m, snap_rel, lists, lineage, timings, pre_commit)

    def compact(self, buckets: list[int] | None = None) -> dict[str, Any]:
        """Fold the delta files of ``buckets`` (default: every bucket
        holding some) into new base files — merge's copy-on-write arm
        over an empty batch. The folded state, and so every read, is
        the same before and after."""
        m = self.meta()
        todo = sorted(
            b for b, files in self._lists(m, buckets).items() if _depth(files)
        )
        if not todo:
            return {"skipped": True, "reason": "no delta files"}
        timings: dict[str, float] = {}
        snap_rel, lists, rows = self._stage_cow(m, None, todo, m["version"] + 1, timings)
        lineage = {"stream_id": None, "epoch_id": None, "buckets_touched": todo,
                   "write_mode": "cow", "rows_written": rows}
        return self._commit(m, snap_rel, lists, lineage, timings, None)

    def _stage_cow(self, m, src, touched, version, timings) -> tuple[str, dict, int]:
        """Copy-on-write arm: the fold of batch rows ∪ base and delta
        rows of the touched buckets, written one file per bucket. Returns
        the staged dir, each touched bucket's new one-base list and the
        rows written, counted inside the write job (an Observation on
        the fold: no extra job, no driver-side file IO)."""
        cands = self._stored(m, touched)
        if src is not None:
            cands = src.unionByName(cands)
        written_rows = Observation()
        result = self._fold(cands, m, len(touched)).observe(written_rows, F.expr("count(1) AS rows"))
        _t = time.monotonic()
        snap_rel, written = self._write_snapshot(result, version)
        timings["write_s"] = round(time.monotonic() - _t, 4)
        # Contract guard: the commit only adopts buckets in `touched`.
        # If the write produced a bucket OUTSIDE that set, the probe's
        # key set diverged from the batch's — those rows would be
        # silently orphaned (written but never listed), i.e. lost. Fail
        # loudly instead.
        extra = set(written) - set(touched)
        if extra:
            self.fs.rmtree(os.path.join(self.path, snap_rel))
            raise RuntimeError(_diverged(sorted(extra), touched))
        # a bucket with no rows left (everything merged away) gets an
        # empty list
        return snap_rel, {str(b): written.get(b, []) for b in touched}, written_rows.get["rows"]

    def _stage_delta(self, m, src, touched, version, timings) -> tuple[str, dict, None]:
        """Delta arm: the batch rows as ONE bucket-sorted parquet file
        (no stored-side read, no exchange, no aggregate), appended to
        each touched bucket's list. The same divergence guard runs
        inside the write: a row whose bucket is not in ``touched`` fails
        the job, and the staged dir is dropped."""
        guard = (
            f"CAST(CASE WHEN {in_list(BUCKET_COL, touched)} THEN {BUCKET_COL}"
            f" ELSE raise_error('{_DIVERGED_MARK}') END AS INT) AS {BUCKET_COL}"
        )
        rows = (
            select_sql(src, [guard, *map(ident, _payload(m).fieldNames()), SEQ_COL, DELETED_COL])
            .coalesce(1)
            .sortWithinPartitions(BUCKET_COL)
        )
        _t = time.monotonic()
        try:
            snap_rel, files = self._stage(rows.write, _SNAP, version)
        except Exception as e:
            if _DIVERGED_MARK not in str(e):
                raise
            raise RuntimeError(_diverged(None, touched)) from None
        timings["write_s"] = round(time.monotonic() - _t, 4)
        lists = {str(b): m["buckets"].get(str(b), []) + files for b in touched}
        return snap_rel, lists, None

    def _commit(self, m, snap_rel, lists, lineage, timings, pre_commit) -> dict[str, Any]:
        """Commit a staged snapshot after the ``pre_commit`` barrier: the
        touched buckets' new lists, the epoch fence and the lineage record
        in one pointer swap. A failed barrier or a lost commit race drops
        the staged dir."""
        new_buckets: dict[str, list[str]] = dict(m["buckets"])
        new_buckets.update(lists)
        written = sorted(
            {f for files in lists.values() for f in files if f.startswith(snap_rel + os.sep)}
        )
        lineage = {
            "version": m["version"] + 1,
            **lineage,
            "buckets_total": m["n_buckets"],
            "files_written": len(written),
            "max_delta_depth": max(map(_depth, new_buckets.values()), default=0),
            "timings": timings,
        }
        m2 = self._next(
            m, lineage["stream_id"], lineage["epoch_id"], parent=m["version"],
            buckets=new_buckets, lineage=[lineage],
        )
        timings.update(self._barrier(pre_commit, snap_rel))
        _t = time.monotonic()
        try:
            self._write_version(m2)
        except CommitConflict:
            self.fs.rmtree(os.path.join(self.path, snap_rel))
            raise
        timings["commit_s"] = round(time.monotonic() - _t, 4)
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
        names = set(df.columns)
        out = select_sql(df, [
            f"{bucket_sql(m['key_cols'], n_buckets)} AS {BUCKET_COL}",
            *_aligned(names, _payload(m)),
            f"CAST({ident(SEQ_COL) if SEQ_COL in names else int(seq_value)} AS BIGINT) AS {SEQ_COL}",
            f"{ident(DELETED_COL) if DELETED_COL in names else 'false'} AS {DELETED_COL}",
        ])
        new_version = m["version"] + 1
        _, written = self._write_snapshot(
            out.repartition(self._write_tasks(n_buckets), F.col(BUCKET_COL)), new_version
        )
        buckets = {str(b): files for b, files in written.items()}
        # changes() refuses ranges spanning a bulk load (bucket map
        # rebuilt, seqs reset — not a change set)
        self._write_version(self._next(
            m, parent=m["version"], buckets=buckets, last_overwrite_version=new_version
        ))

    # --------------------------------------------------- housekeeping
    def expire_snapshots(self, keep_last: int = 2) -> int:
        """Drop data files only referenced by snapshots older than the
        last ``keep_last`` versions (Iceberg expire_snapshots; the
        reference analog is dropping drained Event_Logs partitions,
        housekeeping.rb:45-107). A file is live while any kept version's
        bucket lists name it — base and delta files alike, so a delta
        file some bucket still lists outlives the compaction of the
        others. Returns number of files removed."""
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
            # In-flight-writer guard (both write arms stage under
            # snap-{v}-{uuid}): a dir staged by an optimistic
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
