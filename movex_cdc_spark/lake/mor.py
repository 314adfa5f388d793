"""Merge-on-read wrapper over the copy-on-write lake table.

The COW merge rewrites every touched bucket per epoch — correct and
read-optimal, but tiny frequent epochs over many buckets amplify
writes: a 1,000-row epoch touching 500 buckets rewrites 500 buckets of
a 10^10-row table. This is the classic COW/MoR trade (Iceberg
merge-on-read / Hudi MOR): buffer small change batches in an
append-only DELTA log (O(batch) write, zero rewrite), resolve state at
read time with one extra LWW over base ∪ delta, and COMPACT the delta
into the base through the normal bucket-pruned merge once it exceeds a
threshold — paying the rewrite once per many epochs instead of every
epoch.

Exactly-once survives intact:
  * delta appends are fenced per (stream_id, epoch_id) in the delta
    log's atomic metadata commit (same pointer-swap protocol as the
    base table);
  * compaction is fenced in the BASE table under a reserved stream id
    whose epoch is the delta log's version, so a crash between
    base-merge and delta-truncate replays into a no-op merge followed
    by the truncate.

Read-time semantics are identical to COW by construction: the winner
per key across (base rows at their applied seq, delta change rows at
their seq) is the same LWW the eager merge computes — associativity of
max-by-seq again, the same property the salted two-phase LWW leans on.
Reference anchor: the queue IS the reference's delta (Event_Logs rows
awaiting transfer, transfer_thread.rb:53-99); compaction is its drain.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from movex_cdc_spark.lake.append_log import UnkeyedEventLog
from movex_cdc_spark.lake.table import DELETED_COL, SEQ_COL, LakeTable

COMPACT_STREAM = "__compact"


class MergeOnReadTable:
    """LakeTable-compatible facade: ``merge`` appends to the delta and
    auto-compacts past ``compact_rows``; ``read`` resolves base ∪ delta."""

    def __init__(
        self,
        base: LakeTable,
        delta_path: str,
        compact_rows: int = 1_000_000,
        expire_keep_last: int = 8,
        compact_epochs: int | None = None,
    ):
        """``compact_rows`` bounds the delta in ROWS; ``compact_epochs``
        additionally bounds it in APPENDED EPOCHS — compaction fires
        when either threshold is reached.

        WHEN-to-compact, measured (bench.py --mor-policy, 40×5k-row
        epochs with a consumer read every 8, BENCH_SCALING.md r7):
        total wall write+read was COW 143.6s / every-2-epochs 67.3s /
        **every-5-epochs 48.5s** / every-10 60.0s / never-until-the-end
        75.2s, all states identical. Too-eager compaction re-pays the
        bucket rewrite; too-lazy makes every read re-LWW a fat delta
        AND makes each (rarer) compaction rewrite more. For deployments
        whose consumers read between epochs, ``compact_epochs=5`` is
        the measured sweet spot; a pure write-behind sink (reads only
        after the stream drains) should keep the row bound alone and
        let the final compact amortize."""
        self.base = base
        self.spark = base.spark
        # the delta log lives next to the base table: same fs seam
        try:
            self.delta = UnkeyedEventLog.load(self.spark, delta_path, fs=base.fs)
        except FileNotFoundError:
            # only a MISSING delta may be created; corrupt metadata must
            # propagate rather than silently shadowing buffered changes
            self.delta = UnkeyedEventLog.create(self.spark, delta_path, fs=base.fs)
        self.compact_rows = compact_rows
        self.compact_epochs = compact_epochs
        # reader-retention window for drained delta segments, in delta
        # METADATA VERSIONS (each epoch advances two: append + counter);
        # widen for deployments with slow concurrent readers
        self.expire_keep_last = expire_keep_last

    # -------------------------------------------------------- helpers
    def _delta_rows(self) -> int:
        return int(self.delta.meta().get("rows", 0))

    def evolve_schema(self, batch_payload_schema) -> Any:
        return self.base.evolve_schema(batch_payload_schema)

    def payload_schema(self):
        return self.base.payload_schema()

    def current_version(self) -> int:
        return self.base.current_version()

    # ---------------------------------------------------------- merge
    def merge(
        self,
        batch: DataFrame,
        seq_col: str = "seq",
        op_col: str = "op",
        stream_id: str = "default",
        epoch_id: int | None = None,
        lineage_extra: dict[str, Any] | None = None,
    ) -> dict[str, Any]:
        """Append the (already LWW-deduped) change batch to the delta
        log — O(batch), no bucket rewrite. Fenced like LakeTable.merge."""
        import time as _time

        from pyspark.sql import Observation

        pay = [f.name for f in self.base.payload_schema().fields]
        batch_names = set(batch.columns)
        norm = batch.select(
            *[
                (F.col(c) if c in batch_names else F.lit(None)).alias(c)
                for c in pay
            ],
            F.col(seq_col).cast("long").alias("__d_seq"),
            F.col(op_col).alias("__d_op"),
        )
        obs = Observation(f"mor_{stream_id}_{epoch_id}_{_time.monotonic_ns()}")
        norm = norm.observe(obs, F.count(F.lit(1)).alias("n"))
        lineage = self.delta.append(norm, stream_id=stream_id, epoch_id=epoch_id)
        if lineage.get("skipped"):
            return lineage
        # row count rides a follow-up metadata version (atomic pointer
        # swap like every commit; the count came free off the write job)
        m = self.delta.meta()
        m["rows"] = int(m.get("rows", 0)) + int(obs.get.get("n", 0))
        m["delta_epochs"] = int(m.get("delta_epochs", 0)) + 1
        self._rewrite_meta(m)
        lineage["delta_rows"] = m["rows"]
        lineage["mode"] = "delta-append"
        if m["rows"] >= self.compact_rows or (
            self.compact_epochs is not None
            and m["delta_epochs"] >= self.compact_epochs
        ):
            lineage["compaction"] = self.compact()
        return lineage

    def _rewrite_meta(self, m: dict[str, Any]) -> None:
        m2 = dict(m)
        m2["version"] = m["version"] + 1
        self.delta._write_version(m2)

    # ----------------------------------------------------------- read
    def read(self, include_deleted: bool = False) -> DataFrame:
        """Base ∪ delta resolved by LWW — the read-time merge."""
        m = self.base.meta()
        key_cols = m["key_cols"]
        pay = [f.name for f in self.base.payload_schema().fields]
        base = self.base.read_raw().select(
            *pay, F.col(SEQ_COL).alias("__seq"),
            F.when(F.col(DELETED_COL), "D").otherwise("B").alias("__op"),
        )
        dmeta = self.delta.meta()
        if dmeta["files"]:
            d = self.delta.read()
            dcols = set(d.columns)
            # schema-evolution tolerant: delta segments appended before a
            # column add are read with null for the new column
            delta = d.select(
                *[(F.col(c) if c in dcols else F.lit(None)).alias(c) for c in pay],
                F.col("__d_seq").alias("__seq"),
                F.col("__d_op").alias("__op"),
            )
            both = base.unionByName(delta)
        else:
            both = base
        # one LWW (max_by partial combine) — same shuffle class as the
        # eager merge's join, paid at read instead of write
        payload = [c for c in both.columns if c not in key_cols and c != "__seq"]
        winner = (
            both.groupBy(*key_cols)
            .agg(
                F.max_by(F.struct(*payload), F.col("__seq")).alias("__w"),
                F.max("__seq").alias(SEQ_COL),
            )
            .select(*key_cols, *[F.col(f"__w.{c}").alias(c) for c in payload], SEQ_COL)
        )
        out = winner.withColumn(DELETED_COL, F.col("__op") == "D").drop("__op")
        if not include_deleted:
            out = out.filter(~F.col(DELETED_COL)).drop(DELETED_COL)
        return out

    # -------------------------------------------------------- compact
    def compact(self) -> dict[str, Any]:
        """Fold the delta into the base via the normal bucket-pruned COW
        merge, then truncate the delta (keeping its epoch fences).
        Fenced in the base under COMPACT_STREAM at the delta version, so
        a replay after a crash mid-compaction is a no-op merge."""
        dmeta = self.delta.meta()
        if not dmeta["files"]:
            return {"skipped": True, "reason": "empty delta"}
        dv = dmeta["version"]
        # the raw delta: several epochs may carry the same key, and the
        # merge resolves last-writer-wins across them itself
        lin = self.base.merge(
            self.delta.read(),
            seq_col="__d_seq",
            op_col="__d_op",
            stream_id=COMPACT_STREAM,
            epoch_id=dv,
        )
        # truncate: drop the file list, KEEP the per-stream epoch fences.
        # The drained segment dirs are RETIRED by the log's own listing
        # swap (still on disk for any reader that planned against the
        # old listing; the rows-counter reset rides the same atomic
        # commit) and reaped past the configured retention window —
        # without the retired record they would leak on disk forever.
        m = self.delta.meta()
        self.delta._swap_listing(
            m, [], m.get("schema"), extra={"rows": 0, "delta_epochs": 0}
        )
        lin["segments_expired"] = self.delta.expire_segments(
            keep_last=self.expire_keep_last
        )
        lin["mode"] = "compaction"
        return lin

    # --------------------------------------------------------- changes
    def changes(self, from_version: int, to_version: int | None = None) -> DataFrame:
        """Incremental changelog between two DELTA-LOG metadata versions
        — the MoR analog of ``LakeTable.changes`` (Iceberg incremental
        read over merge-on-read deltas). The delta segments ARE the
        changelog, so the diff is pure metadata: read ONLY the segments
        appended in (from, to], LWW them per key, then classify each
        candidate against the from-state (base ∪ delta@from) with a
        bucket-pruned base lookup. Cost ∝ churn + touched buckets, never
        O(table).

        Refused (silent-wrong-answer edges, mirroring the COW rules):
          * reversed ranges;
          * ranges spanning ANY listing swap — a compaction folds the
            delta into the base and truncates (per-key provenance across
            it is gone, like COW overwrite-spanning ranges), and a
            small-files compact_segments rewrites old rows into new
            files (a file-set diff would re-emit them as changes).

        Emits one row per key whose NET resolved state changed:
        ``change_op`` I (dead/absent → live), U (live → live), D
        (live → dead); dead→dead advances and stale segments (new winner
        older than the from-state winner) are suppressed."""
        to_m = self.delta.meta() if to_version is None else self.delta.meta_at(to_version)
        to_version = to_m["version"]
        if from_version > to_version:
            raise ValueError(
                f"reversed changes range: from v{from_version} > to v{to_version}"
            )
        from_m = self.delta.meta_at(from_version)
        # durable marker, NOT the retired list: expire_segments prunes
        # retired records (and reaps their files), so a consumer lagging
        # past the retention window would see swaps=[] and silently
        # compute a wrong diff against the post-swap base (or crash on
        # reaped segment dirs)
        last_swap = to_m.get("last_swap_version", 0)
        if from_version < last_swap:
            raise ValueError(
                f"changes range v{from_version}..v{to_version} spans a listing "
                f"swap (compaction/rewrite at v{last_swap}) — "
                "per-key provenance across it is not reconstructible from the "
                "delta; read the base table's changes() instead"
            )
        import os as _os

        from movex_cdc_spark.lake.table import bucket_expr

        base_m = self.base.meta()
        key_cols = base_m["key_cols"]
        pay = [f.name for f in self.base.payload_schema().fields]
        from_files = set(from_m["files"])
        new_files = [f for f in to_m["files"] if f not in from_files]
        if not new_files:
            return self.spark.createDataFrame(
                [], self._changes_schema(key_cols, pay)
            )
        schema = T.StructType.fromJson(to_m["schema"])
        churn = self.spark.read.schema(schema).parquet(
            *[_os.path.join(self.delta.path, f) for f in new_files]
        )
        ccols = set(churn.columns)
        churn = churn.select(
            *[(F.col(c) if c in ccols else F.lit(None)).alias(c) for c in pay],
            F.col("__d_seq"), F.col("__d_op"),
        )
        winner = (
            churn.groupBy(*key_cols)
            .agg(
                F.max_by(
                    F.struct(*[c for c in pay if c not in key_cols], "__d_op"),
                    F.col("__d_seq"),
                ).alias("__w"),
                F.max("__d_seq").alias("__new_seq"),
            )
            .select(
                *key_cols,
                *[F.col(f"__w.{c}").alias(c) for c in pay if c not in key_cols],
                F.col("__w.__d_op").alias("__new_op"),
                "__new_seq",
            )
        )
        # from-state for ONLY the touched buckets: base rows bucket-pruned
        # by the churn's key set (bounded distinct-bucket probe), plus the
        # delta segments listed at from_version
        buckets = [
            r[0]
            for r in winner.select(
                bucket_expr(key_cols, base_m["n_buckets"]).alias("b")
            ).distinct().collect()
        ]
        old_base = self.base.read_raw(buckets=buckets).select(
            *key_cols,
            F.col(SEQ_COL).alias("__o_seq"),
            F.when(F.col(DELETED_COL), "D").otherwise("B").alias("__o_op"),
        )
        if from_m["files"]:
            od = self.spark.read.schema(
                T.StructType.fromJson(from_m["schema"])
            ).parquet(*[_os.path.join(self.delta.path, f) for f in from_m["files"]])
            old_delta = od.select(
                *key_cols,
                F.col("__d_seq").alias("__o_seq"),
                F.col("__d_op").alias("__o_op"),
            )
            old_all = old_base.unionByName(old_delta)
        else:
            old_all = old_base
        old_state = (
            old_all.groupBy(*key_cols)
            .agg(
                F.max_by("__o_op", F.col("__o_seq")).alias("__o_op"),
                F.max("__o_seq").alias("__o_seq"),
            )
        )
        j = winner.join(old_state, on=key_cols, how="left")
        new_alive = F.col("__new_op") != "D"
        old_alive = F.col("__o_op").isNotNull() & (F.col("__o_op") != "D")
        classified = j.withColumn(
            "change_op",
            F.when(~old_alive & new_alive, "I")
            .when(old_alive & new_alive, "U")
            .when(old_alive & ~new_alive, "D"),
        )
        return (
            classified
            # stale segments (new winner no newer than the from-state
            # winner) and dead->dead advances emit nothing
            .filter(
                F.col("change_op").isNotNull()
                & (F.col("__o_seq").isNull() | (F.col("__new_seq") > F.col("__o_seq")))
            )
            .select(
                *key_cols,
                *[c for c in pay if c not in key_cols],
                F.col("__new_seq").alias("last_seq"),
                "change_op",
            )
        )

    def _changes_schema(self, key_cols, pay):
        base_schema = {f.name: f.dataType for f in self.base.payload_schema().fields}
        fields = [T.StructField(c, base_schema[c]) for c in key_cols]
        fields += [
            T.StructField(c, base_schema[c]) for c in pay if c not in key_cols
        ]
        fields += [
            T.StructField("last_seq", T.LongType()),
            T.StructField("change_op", T.StringType()),
        ]
        return T.StructType(fields)
