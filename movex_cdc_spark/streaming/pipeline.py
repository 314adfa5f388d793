"""The streaming shell: checkpointed foreachBatch apply (SURVEY §7.1-3).

One Structured Streaming query per target table — the analog of the
reference's worker pool (thread_handling.rb:18-48), except ordering
and exclusivity come from the key-hash shuffle inside the batch, not
from thread-per-key-slice affinity.

Exactly-once contract (reference ST2, transfer_thread.rb:68-80):
Spark may re-execute a foreachBatch with the same epoch_id after a
crash between the sink commit and the checkpoint commit — precisely
the reference's Kafka-commit-then-DB-delete hazard window
(transfer_thread.rb:171-177). The lake table's epoch fence makes the
re-execution a no-op, so end state is exactly-once; resume is the
checkpoint's offset log (ST11).
"""

from __future__ import annotations

from collections import deque
from concurrent.futures import ThreadPoolExecutor
from typing import Any

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movex_cdc_spark.lake.table import LakeTable
# apply_batch is re-exported next to apply_batch_flagged: perfbench's
# tracer patches both names on this module
from movex_cdc_spark.operators.apply import (  # noqa: F401
    DeadLetterTable,
    apply_batch,
    apply_batch_flagged,
    apply_batch_unkeyed,
    flag_dispositions,
    split_flagged,
)
from movex_cdc_spark.session import inheriting_local_properties, observe_noop, select_sql
from movex_cdc_spark.sqltext import in_list, literal
from movex_cdc_spark.sources.events import (
    MULTIPLEX_EVENTS_SCHEMA,
    PAYLOAD_EVENTS_SCHEMA,
    parse_payload_events,
    read_events_stream,
)
from movex_cdc_spark.streaming.lineage import MetricsTable
from movex_cdc_spark.streaming.retry import _missing

#: Driver-side epoch-lineage retention (VERDICT r6 item 4): the
#: in-memory ``epochs`` window is a convenience for tests and the
#: status surface, NOT the durable record (that's MetricsTable). On a
#: long-lived ``processing_time`` trigger an unbounded list is a slow
#: O(epochs) driver leak, so both pipelines keep a bounded deque.
EPOCH_HISTORY = 1024


class _StreamShell:
    """What both streaming pipelines share: the checkpointed
    ``foreachBatch`` query, the quarantine and metrics tables, the
    bounded lineage window, and the ONE per-table epoch apply
    (``_apply_table``). Subclasses provide ``_apply``, the foreachBatch
    function."""

    def __init__(
        self,
        spark: SparkSession,
        events_dir: str,
        checkpoint_dir: str,
        stream_id: str,
        dead_letter_dir: str | None,
        metrics_dir: str | None,
        max_files_per_trigger: int | None,
        fs,
        source_df: DataFrame | None,
        source_schema,
    ):
        self.spark = spark
        self.events_dir = events_dir
        self.source_schema = source_schema
        # source_df: a pre-built STREAMING frame in the source schema
        # replaces the file-source read — the seam a Kafka inbound
        # queue plugs into (sources/kafka.read_events_kafka); the
        # file source stays the default/test double. The checkpoint
        # tracks whatever source backs the frame (Kafka offsets /
        # file listings), so exactly-once composes unchanged.
        self.source_df = source_df
        self.checkpoint_dir = checkpoint_dir
        self.stream_id = stream_id
        # fs seam for the quarantine/sink logs this pipeline constructs
        # itself (the lake table carries its own); lets --fs hadoop
        # deployments keep EVERY metadata commit off the local FS
        self.fs = fs
        self.dead_letter = (
            DeadLetterTable(spark, dead_letter_dir, fs=fs) if dead_letter_dir else None
        )
        self.metrics = MetricsTable(spark, metrics_dir) if metrics_dir else None
        self.max_files_per_trigger = max_files_per_trigger
        # bounded lineage window (newest EPOCH_HISTORY records); the
        # durable copy is MetricsTable
        self.epochs: deque[dict[str, Any]] = deque(maxlen=EPOCH_HISTORY)
        self._side_dls: dict[str, DeadLetterTable] = {}

    def _side_dead_letter(self, suffix: str) -> DeadLetterTable | None:
        """The quarantine next to ``dead_letter`` for rows that are not
        event-shaped (envelope rejects, untagged/unconfigured mux rows):
        mixing them into the event dead letters would corrupt that
        table's read schema. Built on first use and cached — per-epoch
        construction re-read the log metadata every time. None when the
        pipeline has no dead-letter dir."""
        if self.dead_letter is None:
            return None
        if suffix not in self._side_dls:
            self._side_dls[suffix] = DeadLetterTable(
                self.spark, self.dead_letter.path + suffix, fs=self.fs
            )
        return self._side_dls[suffix]

    def _apply_table(
        self,
        sink,
        events: DataFrame,
        epoch_id: int,
        stream_id: str,
        cfg=None,
        condition_sql: str | None = None,
        envelope_sink=None,
    ) -> dict[str, Any]:
        """One table's epoch: flag → persist → (envelope emit from the
        valid slice, its rejects quarantined at the envelope log's
        barrier) → ``apply_batch_flagged`` into a LakeTable, or
        ``apply_batch_unkeyed`` into an append log for
        key_handling='N' → unpersist.

        The disposition chain (condition filter or the config's per-op
        conditions, no-op suppression, poison FLAG) runs inside the
        cache-building projection, so the JSON parse and the cache
        write happen exactly once; the cache keeps ``old_content`` only
        for a config expression or the envelope. MEMORY_AND_DISK: an
        oversized batch spills instead of GC-thrashing (measured +15% on
        the 4×1M-epoch bench).

        The apply functions are looked up in this module's globals at
        call time, so a tracer that patches ``pipeline.apply_batch_*``
        sees every call."""
        unkeyed = cfg is not None and cfg.key_handling == "N"
        if unkeyed and sink is None:
            raise ValueError("key_handling='N' requires an unkeyed_log sink")
        flagged = flag_dispositions(events, condition_sql, cfg, envelope_sink).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        try:
            if envelope_sink is not None:
                # every validated event, projected and PRE-LWW, as an
                # envelope (the reference producer)
                valid, _poison = split_flagged(flagged)
                if cfg is not None:
                    valid = cfg.apply_projection(valid)
                envelope_sink.emit(valid, stream_id=stream_id, epoch_id=epoch_id,
                                   dead_letter=self._side_dead_letter("_envelope"))
            if unkeyed:
                return apply_batch_unkeyed(
                    sink,
                    flagged,
                    epoch_id=epoch_id,
                    stream_id=stream_id,
                    table_cfg=cfg,
                    dead_letter=self.dead_letter,
                    metrics=self.metrics,
                )
            return apply_batch_flagged(
                sink,
                flagged,
                epoch_id=epoch_id,
                stream_id=stream_id,
                dead_letter=self.dead_letter,
                metrics=self.metrics,
                table_cfg=cfg,
            )
        finally:
            flagged.unpersist()

    def start(self, available_now: bool = True, processing_time: str | None = None):
        stream = self.source_df
        if stream is None:
            stream = read_events_stream(
                self.spark,
                self.events_dir,
                self.max_files_per_trigger,
                schema=self.source_schema,
            )
        w = (
            stream.writeStream.foreachBatch(self._apply)
            .option("checkpointLocation", self.checkpoint_dir)
            .queryName(f"cdc-{self.stream_id}")
        )
        if available_now:
            w = w.trigger(availableNow=True)
        elif processing_time:
            w = w.trigger(processingTime=processing_time)
        return w.start()

    def run_available_now(self, timeout_s: int = 600) -> list[dict[str, Any]]:
        """Drain everything currently in the event dir, then stop —
        Trigger.AvailableNow replay (the 10^10-logical-scale pattern:
        bounded reprocessing of an arbitrarily large backlog in
        maxFilesPerTrigger-sized micro-batches)."""
        q = self.start(available_now=True)
        q.awaitTermination(timeout_s)
        if q.isActive:
            q.stop()
        if self.metrics is not None:
            self.metrics.flush()  # drain the buffered lineage window
        if q.exception():
            raise q.exception()
        return list(self.epochs)


class CdcStreamPipeline(_StreamShell):
    """One table's stream. ``table`` is the LakeTable sink: small epochs
    append one delta file, and a bucket is compacted by the merge that
    would exceed its delta depth (lake/table.py).

    ``salted`` is accepted and ignored: LWW runs inside the merge's
    ``max_by`` aggregate, whose partial combine already bounds hot
    keys, so there is no salted variant left to select."""

    def __init__(
        self,
        spark: SparkSession,
        table: LakeTable,
        events_dir: str,
        checkpoint_dir: str,
        stream_id: str = "cdc",
        dead_letter_dir: str | None = None,
        metrics_dir: str | None = None,
        condition_sql: str | None = None,
        salted: bool = False,
        max_files_per_trigger: int | None = None,
        payload_format: bool = False,
        config: "object | None" = None,
        table_name: str | None = None,
        unkeyed_log: "object | None" = None,
        envelope_sink: "object | None" = None,
        fs=None,
        source_df: DataFrame | None = None,
    ):
        super().__init__(spark, events_dir, checkpoint_dir, stream_id, dead_letter_dir,
                         metrics_dir, max_files_per_trigger, fs, source_df,
                         PAYLOAD_EVENTS_SCHEMA if payload_format else None)
        self.table = table
        self.condition_sql = condition_sql
        # payload_format: source rows are Event_Logs-shaped (msg_key +
        # JSON payload); the event parse (from_json) runs first
        self.payload_format = payload_format
        # config-driven capture (reference: triggers compiled from table
        # config, db_trigger_generator_oracle.rb:98-238). `config` is a
        # config.table_config.EngineConfig; it is re-read EVERY batch, so
        # swapping it between micro-batches (set_config) changes the
        # captured columns/conditions/expressions mid-stream — the
        # reference's trigger-regeneration-on-config-change story, with
        # lake-table schema evolution as the ALTER-before-MERGE step.
        self.config = config
        self.table_name = table_name
        # sink for key_handling='N' tables (S5): append-only, no merge
        self.unkeyed_log = unkeyed_log
        # outbound consumer stream (streaming/sink.py EnvelopeSink):
        # every validated event is produced as an envelope, pre-LWW,
        # exactly like the reference's Kafka producer
        self.envelope_sink = envelope_sink

    def set_config(self, config) -> None:
        """Swap capture config between micro-batches (S12 import →
        live reconfiguration)."""
        self.config = config

    def _table_cfg(self):
        if self.config is None:
            return None
        name = self.table_name or next(iter(self.config.tables))
        return self.config.tables[name]

    def _apply(self, batch_df, epoch_id: int) -> None:
        # NOTE (r8, measured and deliberately NOT adopted): an
        # under-parallel micro-batch (one partition per source file)
        # COULD be hash-repartitioned here before the parse (guide
        # §2.5). In-process A/B at 4×1M-event epochs showed the raw-
        # payload exchange (~200 MB/epoch) costs as much as or more
        # than the added parse parallelism saves on this host (walls
        # 22.4→34.1 s and 19.0→42.7 s ON vs OFF in adjacent runs) —
        # the epoch is bandwidth-bound, not parse-bound. At production
        # scale epochs have >= cores files anyway, so the fan-out
        # would be a no-op exactly where it is safe.
        if self.payload_format:
            batch_df = parse_payload_events(batch_df)
        cfg = self._table_cfg()
        unkeyed = cfg is not None and cfg.key_handling == "N"
        self.epochs.append(
            self._apply_table(
                self.unkeyed_log if unkeyed else self.table,
                batch_df,
                epoch_id,
                self.stream_id,
                cfg,
                condition_sql=self.condition_sql,
                envelope_sink=self.envelope_sink,
            )
        )


class MultiplexedCdcPipeline(_StreamShell):
    """ONE streaming query serving N configured tables — the
    reference's single Event_Logs queue with per-event Table_ID
    dispatch (transfer_thread.rb:390,566-587), vs. one
    CdcStreamPipeline per table. At a many-table deployment N queries
    pay N× the per-trigger driver cost (offset log, file listing,
    micro-batch planning); one multiplexed query pays it once and
    dispatches inside the batch.

    Source shape: MULTIPLEX_EVENTS_SCHEMA — the payload Event_Logs row
    plus a ``table_name`` tag. Dispatch is a partition-pruning filter
    per configured table over ONE persisted batch (the parse runs only
    on that table's slice), then the table's own config chain
    (conditions / column flags / expressions / key handling) and its
    own sink:

      key_handling != 'N'  → apply_batch_flagged MERGE into its LakeTable
      key_handling == 'N'  → apply_batch_unkeyed append into its log

    Exactly-once composes per table: each sink fences (stream_id,
    epoch_id) in ITS OWN metadata, so a crash mid-dispatch replays the
    foreachBatch and already-applied tables skip while the rest apply —
    same contract as the reference's per-table Kafka transactions.

    Scope (north rule): all tables share the repo_files row shape and
    (repo, path) key — the reference analog is N configured tables all
    fed by the same trigger machinery; configs may differ arbitrarily.

    Rows tagged with an UNCONFIGURED table go to the dead-letter
    quarantine (the reference logs-and-skips events whose table config
    vanished mid-flight) instead of poisoning the stream.
    """

    def __init__(
        self,
        spark: SparkSession,
        config,
        sinks: dict[str, Any],
        events_dir: str,
        checkpoint_dir: str,
        stream_id: str = "cdc-mux",
        dead_letter_dir: str | None = None,
        metrics_dir: str | None = None,
        max_files_per_trigger: int | None = None,
        dispatch_parallelism: int | None = None,
        fs=None,
        source_df: DataFrame | None = None,
    ):
        missing = [n for n in config.tables if n not in sinks]
        if missing:
            raise ValueError(f"no sink for configured tables: {missing}")
        super().__init__(spark, events_dir, checkpoint_dir, stream_id, dead_letter_dir,
                         metrics_dir, max_files_per_trigger, fs, source_df,
                         MULTIPLEX_EVENTS_SCHEMA)
        self.config = config
        self.sinks = sinks
        # concurrent per-table dispatch: each table's apply is a chain
        # of INDEPENDENT Spark jobs plus driver-side metadata IO
        # (listing, commit, fence JSON) against ITS OWN sink; running
        # them serially leaves the cluster idle during every metadata
        # round-trip and every small job's tail. Driver-side threads
        # submitting concurrent jobs are the public Spark pattern for
        # this; the shared dead-letter/metrics appends are safe under it
        # (per-table stream ids + optimistic commit retry in
        # UnkeyedEventLog.append). Measured: 8 tables × tiny epochs run
        # ~3× faster dispatched concurrently (bench.py --mux-ab).
        self.dispatch_parallelism = dispatch_parallelism

    def set_config(self, config) -> None:
        """Live config swap between micro-batches (S12) — adding a
        table requires its sink to already be registered."""
        missing = [n for n in config.tables if n not in self.sinks]
        if missing:
            raise ValueError(f"no sink for configured tables: {missing}")
        self.config = config

    def reprocess_strays(self) -> dict[str, Any]:
        """Operator-initiated requeue of dispatch-quarantined rows
        (reference: POST /server_control/reprocess_final_errors,
        server_control_controller.rb:103-170 — the table-scoped
        requeue). The canonical heal: rows were quarantined because
        their table tag was unconfigured when they arrived; the
        operator registers the table (set_config) and reprocesses —
        rows whose tag is NOW configured re-dispatch through that
        table's normal config chain and sink, the rest (still-stray
        and NULL-tag rows) stay quarantined.

        Exactly-once across a crash between the sink applies and the
        quarantine rewrite: each table's apply fences on
        (stream_id=":reprocess", epoch_id=quarantine-log-version) in
        ITS OWN sink metadata, so a re-run of the same call no-ops the
        already-applied tables and only the rewrite re-runs. A re-run
        after the quarantine log committed in between carries a new
        token: a keyed sink's merge keeps its stored rows on the
        equal-seq tie; an unkeyed sink gets only the rows it lacks."""
        dispatch_dl = self._side_dead_letter("_dispatch")
        m = dispatch_dl.log.meta() if dispatch_dl is not None else None
        df = dispatch_dl.read(m) if m is not None else None
        if df is None:
            return {"reprocessed": 0, "remaining": 0, "tables": []}
        # bounded probe: distinct tags <= configured tables + strays
        present = {
            r["table_name"] for r in df.select("table_name").distinct().collect()
        }
        healable = sorted(t for t in present if t in self.config.tables and t is not None)
        # one aggregate for all decision counts, taken BEFORE the
        # rewrite below invalidates this read's lineage (same
        # count-before-swap rule as RetryWorker.readmit)
        heal_pred = (
            F.col("table_name").isin(healable) if healable else F.lit(False)
        )
        counts = df.agg(
            F.sum(F.when(heal_pred, 1).otherwise(0)).alias("heal"),
            F.sum(F.when(~F.coalesce(heal_pred, F.lit(False)), 1).otherwise(0)).alias("stay"),
            F.min(F.when(heal_pred, F.col("seq"))).alias("lo"),
            F.max(F.when(heal_pred, F.col("seq"))).alias("hi"),
        ).first()
        n_reprocessed = int(counts["heal"] or 0)
        n_remaining = int(counts["stay"] or 0)
        for name in healable:
            sink, cfg = self.sinks[name], self.config.tables[name]
            events = parse_payload_events(df.filter(f"table_name = {literal(name)}"))
            held = sink.read() if cfg.key_handling == "N" else None
            if held is not None and "seq" in held.columns:
                # only the sink rows in the healed seq range are read
                held = held.filter(f"seq BETWEEN {literal(counts['lo'])} AND {literal(counts['hi'])}")
                events = _missing(events, held, ("seq",))
            self._apply_table(sink, events, m["version"],
                              f"{self.stream_id}:{name}:reprocess", cfg)
        # NULL-tag rows must survive the rewrite: NULL.isin(...) is
        # NULL, and ~NULL filters the row out — an untagged row would
        # silently vanish from quarantine
        remaining = (
            df.filter(
                F.col("table_name").isNull()
                | ~F.col("table_name").isin(healable)
            )
            if healable
            else df
        )
        dispatch_dl.replace(remaining, m)
        return {
            "reprocessed": n_reprocessed,
            "remaining": n_remaining,
            "tables": healable,
        }

    def _apply(self, batch_df, epoch_id: int) -> None:
        batch = batch_df.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            # bounded probe: distinct tags ≤ configured tables + strays,
            # in ONE job, which also builds the cache the dispatch slices
            got = observe_noop(
                select_sql(batch, ["table_name"]),
                tags="collect_set(table_name)",
                null_tag="max(table_name IS NULL)",
            )
            present = set(got["tags"])
            # a NULL tag is reachable from the tagged Kafka source (a
            # malformed wire record parses all-null): it can't be in
            # sorted() (None < str raises) and isin([None]) is NULL —
            # matching nothing — so it gets its own predicate branch.
            has_null_tag = bool(got["null_tag"])
            strays = sorted(present - set(self.config.tables))
            stray_pred = in_list("table_name", strays)
            if has_null_tag:
                stray_pred = f"({stray_pred} OR table_name IS NULL)"
            n_strays = 0
            if strays or has_null_tag:
                dispatch_dl = self._side_dead_letter("_dispatch")
                if dispatch_dl is not None:
                    n_strays = dispatch_dl.append(
                        batch.filter(stray_pred).withColumn(
                            "error_msg",
                            F.when(
                                F.col("table_name").isNull(),
                                F.lit("missing table tag"),
                            ).otherwise(F.lit("unconfigured table")),
                        ),
                        stream_id=f"{self.stream_id}-dispatch",
                        epoch_id=epoch_id,
                    )
                else:
                    # no quarantine dir: the rows are still DROPPED, and
                    # the epoch lineage must say so — a silent
                    # n_strays=0 would hide the data loss
                    n_strays = batch.filter(stray_pred).count()

            def _dispatch_one(name: str, cfg) -> dict[str, Any]:
                # per-table stream id: the shared dead-letter log and
                # metrics table fence on (stream_id, epoch_id), so N
                # tables appending under ONE id would let the first
                # table with poison fence out every other table's
                # poison in the same epoch
                return self._apply_table(
                    self.sinks[name],
                    parse_payload_events(batch.filter(f"table_name = {literal(name)}")),
                    epoch_id,
                    f"{self.stream_id}:{name}",
                    cfg,
                )

            todo = [(n, c) for n, c in self.config.tables.items() if n in present]
            workers = self.dispatch_parallelism or min(len(todo), 8) or 1
            # table applies keep this batch's job group, so query.stop()
            # cancels them
            dispatch = inheriting_local_properties(self.spark, _dispatch_one)
            with ThreadPoolExecutor(max_workers=workers) as pool:
                futures = {n: pool.submit(dispatch, n, c) for n, c in todo}
            # deterministic config order in the lineage record; the first
            # failure propagates and fails the epoch (replay re-runs every
            # table; applied ones fence to no-ops)
            per_table = {n: futures[n].result() for n, _c in todo}
            self.epochs.append(
                {"epoch_id": epoch_id, "tables": per_table, "n_strays": n_strays}
            )
        finally:
            batch.unpersist()
