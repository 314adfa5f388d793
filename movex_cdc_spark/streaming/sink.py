"""Outbound envelope sink — the engine's Kafka-producer analog.

The reference's consumers see a stream of JSON envelopes with three
hard invariants, asserted by its test double (kafka_mock.rb:37-141):

  1. every message is valid envelope JSON (schema/table/operation/id/
     timestamp + new/old payload objects),
  2. messages for one key arrive with ascending event ids
     (kafka_mock.rb:49-63),
  3. no message exceeds the broker size cap (~1 MB,
     kafka_mock.rb:80-96; oversized events raise and are dead-lettered).

EnvelopeSink enforces 1 and 3 at emit time as Catalyst predicates
(rows failing are dead-lettered before the envelopes commit, mirroring
the reference's exception path) and materializes the stream into an
epoch-fenced append log. Invariant 2 is audited over the emitted
stream: within an epoch a key's rows are produced in ascending id
order by construction; across epochs the audit checks the per-key
epoch-to-epoch high-water mark, which is exactly what the reference's
mock asserts across its delivery batches.

Scale shape: emit is append-only (no shuffle beyond the envelope
projection — validity predicates are row-local codegen); the audit is
one groupBy(key, epoch) + one window over per-(key, epoch) aggregates,
O(keys × epochs), not O(events).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from movex_cdc_spark.lake.append_log import UnkeyedEventLog
from movex_cdc_spark.operators.apply import with_envelope

ENVELOPE_COLS = [
    "id",
    "schema_name",
    "table_name",
    "operation",
    "timestamp",
    "transaction_id",
    "new_payload",
    "old_payload",
    "msg_key",
]

MAX_MESSAGE_BYTES = 1_000_000  # reference MAX_KAFKA_MESSAGE_SIZE analog

# Per-mode envelope timestamp shape, validated at emit exactly like the
# reference's KafkaMock validates format-per-mode (kafka_mock.rb:98-141:
# nil → dot fraction + tz with colon; TYPE_1 → comma + tz without colon;
# TYPE_2 → comma + tz with colon). Emitted as anchored regexes so a
# format/config mismatch rejects the row instead of shipping a contract
# violation downstream.
# [+-]: a configured negative tz_offset (db west of Greenwich) is a
# legal envelope, not a malformed one. (The reference's mock assumes a
# positive offset — kafka_mock.rb splits on '+' — but that is a test-
# double shortcut, not the producer contract.)
_TS_PATTERNS = {
    None: r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}\.\d{6}[+-]\d{2}:\d{2}$",
    "TYPE_1": r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2},\d{6}[+-]\d{4}$",
    "TYPE_2": r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2},\d{6}[+-]\d{2}:\d{2}$",
}


def build_envelopes(
    batch: DataFrame,
    *,
    schema_name: str,
    table_name: str,
    max_bytes: int,
    cloudevents: bool,
    legacy_ts_format: str | None,
    tz_offset: str,
):
    """Shared envelope construction + validity predicates for BOTH
    product boundaries (lake append log and Kafka writer) — the two
    must stay byte-identical, which is why this is one function.

    Returns ``(env, msg, ok, error_col)``: the enveloped frame, the
    serialized JSON message column, the row-validity predicate, and the
    per-row rejection reason (valid only under ``~ok``). All predicates
    are row-local codegen — no shuffle, no Python."""
    for opt, typ in (("ts", "timestamp"), ("txid", "long"), ("old_content", "string")):
        if opt not in batch.columns:
            batch = batch.withColumn(opt, F.lit(None).cast(typ))
    env = with_envelope(
        batch,
        schema_name=schema_name,
        table_name=table_name,
        cloudevents=cloudevents,
        legacy_ts_format=legacy_ts_format,
        tz_offset=tz_offset,
    )
    cols = ENVELOPE_COLS + (
        ["ce_id", "ce_source", "ce_specversion", "ce_type", "ce_time"]
        if cloudevents
        else []
    )
    env = env.select(*cols)
    msg = F.to_json(F.struct(*[F.col(c) for c in ENVELOPE_COLS]))
    size_ok = F.octet_length(msg) <= max_bytes
    # payload validity: the payload strings must parse back as JSON
    # objects (get_json_object -> null on malformed input)
    json_ok = F.get_json_object(F.col("new_payload"), "$").isNotNull() | (
        F.col("operation") == "DELETE"
    )
    key_ok = F.col("msg_key").isNotNull()
    # format-per-mode timestamp validation (KafkaMock analog). A NULL
    # timestamp is allowed: minimal sources carry no capture ts — and
    # must stay three-valued-logic-safe: a bare regexp on NULL yields
    # NULL, which silently drops the row from BOTH slices.
    ts_ok = F.col("timestamp").isNull() | F.col("timestamp").rlike(
        _TS_PATTERNS[legacy_ts_format]
    )
    ok = size_ok & json_ok & key_ok & ts_ok
    error_col = (
        F.when(~size_ok, F.lit("message exceeds size cap"))
        .when(~json_ok, F.lit("invalid payload json"))
        .when(~key_ok, F.lit("null message key"))
        .otherwise(F.lit("malformed envelope timestamp"))
    )
    return env, msg, ok, error_col


class EnvelopeSink:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        schema_name: str = "public",
        table_name: str = "repo_files",
        max_bytes: int = MAX_MESSAGE_BYTES,
        cloudevents: bool = False,
        legacy_ts_format: str | None = None,
        tz_offset: str = "+00:00",
        fs=None,
    ):
        if legacy_ts_format not in _TS_PATTERNS:
            raise ValueError(f"Unknown legacy timestamp format {legacy_ts_format!r}")
        self.spark = spark
        self.schema_name = schema_name
        self.table_name = table_name
        self.max_bytes = max_bytes
        self.cloudevents = cloudevents
        self.legacy_ts_format = legacy_ts_format
        self.tz_offset = tz_offset
        self.log = UnkeyedEventLog.open(spark, path, fs=fs)

    # ------------------------------------------------------------ emit
    def emit(
        self,
        batch: DataFrame,
        stream_id: str = "default",
        epoch_id: int | None = None,
        dead_letter=None,
    ) -> dict[str, Any]:
        """Envelope + validate + fenced append.

        ``batch`` is a validated change-event frame (post condition/
        poison filters, PRE-LWW — every event is delivered, as the
        reference producer does). Returns the lineage record plus the
        rejected-row count. Rejected rows (oversized / invalid) go to
        ``dead_letter`` (stream ``{stream_id}-sink``) at the log's
        barrier, before the envelopes commit; without one they drop."""
        env, msg, ok, error_col = build_envelopes(
            batch,
            schema_name=self.schema_name,
            table_name=self.table_name,
            max_bytes=self.max_bytes,
            cloudevents=self.cloudevents,
            legacy_ts_format=self.legacy_ts_format,
            tz_offset=self.tz_offset,
        )
        # the reject count rides the append scan as an Observation (the
        # observe sits UPSTREAM of the validity filter, so the one write
        # job counts the rows it drops) — no second action per epoch
        from pyspark.sql import Observation

        obs = Observation(f"emit_{stream_id}_{epoch_id}")
        observed = env.observe(obs, F.sum(F.when(~ok, 1).otherwise(0)).alias("n_rejected"))
        good = observed.filter(ok).withColumn("message_bytes", F.octet_length(msg))

        def quarantine() -> None:
            if obs.get.get("n_rejected"):
                rejected = env.filter(~ok).withColumn("error_msg", error_col)
                dead_letter.append(rejected, stream_id=f"{stream_id}-sink", epoch_id=epoch_id)

        lineage = self.log.append(good, stream_id=stream_id, epoch_id=epoch_id,
                                  pre_commit=quarantine if dead_letter is not None else None)
        if not lineage.get("skipped"):
            lineage["n_rejected"] = int(obs.get.get("n_rejected") or 0)
        return lineage

    # ------------------------------------------------------------ read
    def read(self) -> DataFrame:
        return self.log.read()

    # ----------------------------------------------------------- audit
    def audit(self) -> dict[str, Any]:
        """Verify the KafkaMock per-key ordering invariant over the
        emitted stream: for each msg_key, epoch high-water marks must
        ascend — epoch e's max id < epoch e'>e's min id. Returns counts;
        violations > 0 means a late event crossed an epoch boundary out
        of order. ONE job: messages/keys/violations all fold out of the
        same per-(key, epoch) aggregate."""
        m = self.log.meta()
        df = self.log.read(m)
        if not m["files"]:
            return {"messages": 0, "keys": 0, "violations": 0}
        # epoch attribution: segment dirs are committed per epoch in
        # ascending version order; map file -> commit version (dir name
        # is seg-<version>-<uuid>). Anchored to the uuid suffix + '/':
        # an unanchored 'seg-(\d+)' would match a parent directory named
        # seg-<digits> anywhere in the log path and attribute EVERY file
        # to that one bogus epoch, silently hiding ordering violations.
        seg = F.regexp_extract(
            F.input_file_name(), r"seg-(\d+)-[0-9a-f]{8}/", 1
        ).cast("long")
        per_epoch = (
            df.withColumn("__seg", seg)
            .groupBy("msg_key", "__seg")
            .agg(F.min("id").alias("min_id"), F.max("id").alias("max_id"),
                 F.count(F.lit(1)).alias("n"))
        )
        w = Window.partitionBy("msg_key").orderBy("__seg")
        row = (
            per_epoch.withColumn("prev_max", F.lag("max_id").over(w))
            .agg(
                F.sum("n").alias("messages"),
                F.countDistinct("msg_key").alias("keys"),
                F.sum(
                    F.when(
                        F.col("prev_max").isNotNull()
                        & (F.col("min_id") <= F.col("prev_max")),
                        1,
                    ).otherwise(0)
                ).alias("violations"),
            )
            .first()
        )
        return {
            # sums are NULL (not 0) when the committed listing holds only
            # empty segments — e.g. an epoch where every row was rejected
            "messages": int(row["messages"] or 0),
            "keys": int(row["keys"] or 0),
            "violations": int(row["violations"] or 0),
        }


class KafkaEnvelopeWriter:
    """``format("kafka")`` product boundary — the deployable analog of
    the reference's Kafka producer (kafka_java.rb:179-220), emitting
    the SAME envelope bytes ``EnvelopeSink`` appends to the lake. The
    lake sink stays the default and the test double (the KafkaMock
    role, kafka_mock.rb:37-141) — both go through ``build_envelopes``,
    so the wire bytes are identical by construction and asserted
    byte-identical by pytest.

    Wire shape (public Spark Kafka sink contract):

      key     = ``msg_key`` UTF-8 bytes → broker key-hash partitioning,
                the reference's per-key ordering unit
      value   = envelope JSON bytes
      headers = CloudEvents attributes when enabled (``ce_*`` columns)
                — the binary content mode of the CE Kafka binding
      topic   = constant per writer (reference: ``kafka_topic`` per
                table config, table_config.yaml)

    Ordering: rows are repartitioned by ``msg_key`` and sorted by
    (msg_key, id) within partitions, so exactly ONE producer task owns
    a key and sends its messages in ascending id order; the idempotent-
    producer defaults below make broker retries order-preserving
    (enable.idempotence + bounded in-flight), which is the KafkaMock
    per-key-ascending-ids invariant on the real wire.

    Delivery semantics — the documented EOS story: Spark's Kafka sink
    is AT-LEAST-ONCE (the sink API exposes no transactional producer;
    a replayed task re-sends its rows). Consumer-side exactly-once =
    this producer + the id-keyed ``streaming_watermark_dedup`` guard
    (streaming/windows.py) on the consumer, which drops replay
    duplicates by envelope id inside the watermark. The reference
    producer uses real Kafka transactions (kafka_java.rb:186); a
    deployment needing producer-side EOS keeps the lake sink and runs
    a transactional lake→Kafka relay instead.
    """

    #: reference producer contract knobs (kafka_java.rb:179-220):
    #: acks=all + idempotence → no silent loss, no retry reorder;
    #: 1 MiB producer batches mirror MAX_KAFKA_MESSAGE_SIZE.
    PRODUCER_DEFAULTS = {
        "kafka.acks": "all",
        "kafka.enable.idempotence": "true",
        "kafka.max.in.flight.requests.per.connection": "5",
        "kafka.compression.type": "lz4",
        "kafka.batch.size": str(1 << 20),
    }

    def __init__(
        self,
        spark: SparkSession,
        bootstrap_servers: str,
        topic: str,
        schema_name: str = "public",
        table_name: str = "repo_files",
        max_bytes: int = MAX_MESSAGE_BYTES,
        cloudevents: bool = False,
        legacy_ts_format: str | None = None,
        tz_offset: str = "+00:00",
        n_producer_tasks: int | None = None,
        options: dict[str, str] | None = None,
    ):
        if legacy_ts_format not in _TS_PATTERNS:
            raise ValueError(f"Unknown legacy timestamp format {legacy_ts_format!r}")
        self.spark = spark
        self.bootstrap_servers = bootstrap_servers
        self.topic = topic
        self.schema_name = schema_name
        self.table_name = table_name
        self.max_bytes = max_bytes
        self.cloudevents = cloudevents
        self.legacy_ts_format = legacy_ts_format
        self.tz_offset = tz_offset
        self.n_producer_tasks = n_producer_tasks
        self.options = {**self.PRODUCER_DEFAULTS, **(options or {})}

    # ----------------------------------------------------------- frames
    def kafka_frames(self, batch: DataFrame) -> tuple[DataFrame, DataFrame]:
        """(wire_frame, rejected): the key/value[/headers] projection
        the public Kafka sink consumes, and the invalid rows with their
        rejection reason for dead-lettering. Same validation, same
        envelope bytes as EnvelopeSink.emit — one code path."""
        env, msg, ok, error_col = build_envelopes(
            batch,
            schema_name=self.schema_name,
            table_name=self.table_name,
            max_bytes=self.max_bytes,
            cloudevents=self.cloudevents,
            legacy_ts_format=self.legacy_ts_format,
            tz_offset=self.tz_offset,
        )
        good = env.filter(ok)
        # one producer task per key range, ascending ids inside it (the
        # per-key ordering contract; see class docstring)
        if self.n_producer_tasks:
            good = good.repartition(self.n_producer_tasks, F.col("msg_key"))
        else:
            good = good.repartition(F.col("msg_key"))
        good = good.sortWithinPartitions("msg_key", "id")
        cols = [
            F.col("msg_key").cast("binary").alias("key"),
            msg.cast("binary").alias("value"),
        ]
        if self.cloudevents:
            # absent optional attributes (e.g. ce_time when the source
            # carries no capture ts) are OMITTED, not null-valued — the
            # CE binding has no null headers
            cols.append(
                F.filter(
                    F.array(*[
                        F.struct(
                            F.lit(h).alias("key"),
                            F.col(h).cast("binary").alias("value"),
                        )
                        for h in (
                            "ce_id", "ce_source", "ce_specversion", "ce_type", "ce_time",
                        )
                    ]),
                    lambda s: s["value"].isNotNull(),
                ).alias("headers")
            )
        rejected = env.filter(~ok).withColumn("error_msg", error_col)
        return good.select(*cols), rejected

    # ----------------------------------------------------------- write
    def writer(self, wire_frame: DataFrame):
        """The configured batch DataFrameWriter: plain public Spark
        Kafka sink (``format('kafka')`` + ``kafka.*`` producer options).
        Exposed separately so tests can assert the plan/options without
        a broker; ``.save()`` is the produce."""
        w = (
            wire_frame.write.format("kafka")
            .option("kafka.bootstrap.servers", self.bootstrap_servers)
            .option("topic", self.topic)
        )
        for k, v in self.options.items():
            w = w.option(k, v)
        return w

    def emit(
        self,
        batch: DataFrame,
        stream_id: str = "default",
        epoch_id: int | None = None,
        dead_letter=None,
    ) -> dict[str, Any]:
        """Drop-in for EnvelopeSink.emit inside CdcStreamPipeline's
        foreachBatch (the sink-format knob: pass a KafkaEnvelopeWriter
        as ``envelope_sink`` to deploy, an EnvelopeSink to test). NOT
        epoch-fenced — Kafka produce is at-least-once (class docstring);
        a replayed epoch re-sends and the consumer-side dedup absorbs
        it, so the lineage record carries no 'skipped' key. Rejected
        rows go to ``dead_letter`` BEFORE the produce."""
        from pyspark import StorageLevel

        env_batch = batch.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            wire, rejected = self.kafka_frames(env_batch)
            # both reads of the rejected slice hit the cached envelope
            # input (an Observation riding a kafka write does not fire
            # inside foreachBatch — see spark-engine notes)
            n_rejected = rejected.count()
            if n_rejected and dead_letter is not None:
                dead_letter.append(rejected, stream_id=f"{stream_id}-sink", epoch_id=epoch_id)
            self.writer(wire).save()
            return {
                "stream_id": stream_id,
                "epoch_id": epoch_id,
                "topic": self.topic,
                "n_rejected": n_rejected,
                "delivery": "at-least-once",
            }
        finally:
            env_batch.unpersist()
