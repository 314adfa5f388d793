"""Outbound EnvelopeSink: KafkaMock invariants (envelope validity,
per-key ascending ids, size cap), epoch fencing, pipeline integration."""

import pandas as pd
from pyspark.sql import functions as F

from movex_cdc_spark.config.table_config import repo_files_config
from movex_cdc_spark.datagen import GenParams, generate_events
from movex_cdc_spark.lake.table import LakeTable
from movex_cdc_spark.operators.apply import KEY_COLS, REPO_FILES_SCHEMA, DeadLetterTable
from movex_cdc_spark.sources.events import write_event_files
from movex_cdc_spark.streaming.lineage import MetricsTable
from movex_cdc_spark.streaming.pipeline import CdcStreamPipeline
from movex_cdc_spark.streaming.sink import EnvelopeSink

COLS = ["seq", "repo", "path", "commit", "lang", "content", "old_content", "op"]


def _batch(spark, rows):
    return spark.createDataFrame(pd.DataFrame(rows, columns=COLS))


def test_emit_validate_and_fence(spark, tmp_path):
    sink = EnvelopeSink(spark, str(tmp_path / "sink"), max_bytes=500)
    dl = DeadLetterTable(spark, str(tmp_path / "dl_envelope"))
    ok_rows = [(i, "r", f"p{i}", "c", "py", f"content {i}", None, "I") for i in range(5)]
    big = [(99, "r", "big", "c", "py", "x" * 2000, None, "I")]  # blows the cap
    r = sink.emit(_batch(spark, ok_rows + big), epoch_id=0, dead_letter=dl)
    assert r["n_rejected"] == 1
    # the reject is quarantined at the log's barrier, under the sink's stream
    rej = dl.read().collect()
    assert [(x["id"], x["error_msg"], x["stream_id"]) for x in rej] == [
        (99, "message exceeds size cap", "default-sink")]
    out = sink.read()
    assert out.count() == 5
    # envelope JSON validity on everything emitted
    assert (
        out.filter(F.get_json_object("new_payload", "$.content").isNull()).count() == 0
    )
    # fenced replay appends nothing, to either log
    r2 = sink.emit(_batch(spark, ok_rows + big), epoch_id=0, dead_letter=dl)
    assert r2.get("skipped")
    assert sink.read().count() == 5 and dl.read().count() == 1


def test_audit_per_key_ascending(spark, tmp_path):
    sink = EnvelopeSink(spark, str(tmp_path / "sink"))
    # epoch 0: key p has ids 1..3; epoch 1: ids 5..6 — ascending, clean
    sink.emit(_batch(spark, [(i, "r", "p", "c", "py", f"v{i}", None, "U") for i in (1, 2, 3)]), epoch_id=0)
    sink.emit(_batch(spark, [(i, "r", "p", "c", "py", f"v{i}", None, "U") for i in (5, 6)]), epoch_id=1)
    a = sink.audit()
    assert a["messages"] == 5 and a["violations"] == 0
    # epoch 2 delivers a LATE id 4 for the same key -> ordering violation
    sink.emit(_batch(spark, [(4, "r", "p", "c", "py", "v4", None, "U")]), epoch_id=2)
    a2 = sink.audit()
    assert a2["violations"] == 1


def test_pipeline_with_envelope_sink(spark, tmp_path):
    p = GenParams(n_events=2000, seed=29)
    ev = generate_events(p)
    write_event_files(ev, str(tmp_path / "events"), n_files=3)
    t = LakeTable.create(spark, str(tmp_path / "lake"), REPO_FILES_SCHEMA, KEY_COLS, n_buckets=4)
    sink = EnvelopeSink(spark, str(tmp_path / "sink"))
    pipe = CdcStreamPipeline(
        spark,
        t,
        events_dir=str(tmp_path / "events"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        dead_letter_dir=str(tmp_path / "dl"),
        metrics_dir=str(tmp_path / "metrics"),
        config=repo_files_config(),
        envelope_sink=sink,
        max_files_per_trigger=1,
    )
    pipe.run_available_now()
    # every validated event produced exactly once (pre-LWW, like the
    # reference producer); poison/filtered/no-op rows are absent
    marked = ev["content"].fillna("").str.contains("EXCLUDE FILTER", regex=False)
    valid = ev[~(marked & ev["op"].isin(["I", "U"]))]
    valid = valid[~(valid["content"].isna() & valid["op"].isin(["I", "U"]))]
    valid = valid[~valid["is_noop"]]
    out = sink.read()
    assert out.count() == len(valid)
    assert set(r["id"] for r in out.select("id").collect()) == set(valid["seq"])
    # bounded-disorder input within one availableNow drain stays ordered
    # per key across the emitted epochs unless disorder crosses a file
    # boundary; audit reports the count either way
    a = sink.audit()
    assert a["messages"] == len(valid)
    assert a["keys"] == valid.groupby(["repo", "path"]).ngroups
    # the keyed apply shares the envelope's flagged cache: its counters
    # ride the one probe (valid events, pre-LWW) ...
    rows = MetricsTable(spark, str(tmp_path / "metrics")).read().collect()
    assert rows and all(r["counter_scope"] == "valid_events_pre_dedup" for r in rows)
    # ... and its dead letters are exactly the planted poison, each
    # diagnosed by the one poison rule
    planted = ev[ev["content"].isna() & ev["op"].isin(["I", "U"])]
    dead = DeadLetterTable(spark, str(tmp_path / "dl")).read().collect()
    assert sorted(r["seq"] for r in dead) == sorted(planted["seq"])
    assert {r["error_msg"] for r in dead} == {"null content on insert/update"}


def test_legacy_timestamp_modes_format_and_validate(spark, tmp_path):
    """The reference's three legacy_ts_format modes
    (transfer_thread.rb:520-536), each emitted through a real sink and
    validated per-mode at emit like KafkaMock (kafka_mock.rb:98-141):
    default = dot fraction + tz WITH colon; TYPE_1 = comma + tz WITHOUT
    colon; TYPE_2 = comma + tz WITH colon. A ts-less row stays legal in
    every mode (minimal sources carry no capture timestamp)."""
    import re

    import pytest

    rows = [(1, "r", "p1", "c", "py", "v1", None, "I")]
    ts_batch = _batch(spark, rows).withColumn(
        "ts", F.lit("2020-02-27 12:50:42.123456").cast("timestamp")
    )
    expect = {
        None: "2020-02-27T12:50:42.123456+00:00",
        "TYPE_1": "2020-02-27T12:50:42,123456+0000",
        "TYPE_2": "2020-02-27T12:50:42,123456+00:00",
    }
    for mode, want in expect.items():
        sink = EnvelopeSink(
            spark, str(tmp_path / f"sink_{mode}"), legacy_ts_format=mode
        )
        lin = sink.emit(ts_batch, epoch_id=0)
        assert not lin.get("n_rejected")
        got = sink.read().collect()[0]["timestamp"]
        assert got == want, (mode, got)
        # cross-mode exclusivity, the KafkaMock per-mode checks: each
        # emitted string matches ONLY its own mode's contract
        from movex_cdc_spark.streaming.sink import _TS_PATTERNS

        for other, pat in _TS_PATTERNS.items():
            assert bool(re.match(pat, got)) == (other == mode)
        # null-ts rows remain legal (not silently dropped, not rejected)
        lin2 = sink.emit(_batch(spark, [(2, "r", "p2", "c", "py", "v2", None, "I")]),
                         epoch_id=1)
        assert not lin2.get("n_rejected")
        assert sink.read().count() == 2

    with pytest.raises(ValueError, match="Unknown legacy timestamp"):
        EnvelopeSink(spark, str(tmp_path / "bad"), legacy_ts_format="TYPE_3")

    # a negative configured offset is a legal envelope, not a reject —
    # and the wall time is CONVERTED into that zone so the rendered
    # instant equals the event's instant (12:50:42Z == 07:50:42-05:00)
    sink = EnvelopeSink(spark, str(tmp_path / "sink_neg"), tz_offset="-05:00")
    lin = sink.emit(ts_batch, epoch_id=0)
    assert not lin.get("n_rejected")
    got = sink.read().collect()[0]["timestamp"]
    assert got == "2020-02-27T07:50:42.123456-05:00"


def test_kafka_writer_byte_identical_to_lake_sink(spark, tmp_path):
    """VERDICT r5 item 1: the format('kafka') writer must put the SAME
    envelope bytes on the wire that the lake sink (the KafkaMock-role
    test double) appends — key = msg_key UTF-8 bytes, value = the
    to_json envelope — and reject the same rows for the same reasons.
    Plan-level, no broker."""
    from movex_cdc_spark.streaming.sink import (
        ENVELOPE_COLS,
        EnvelopeSink,
        KafkaEnvelopeWriter,
    )

    rows = [(i, "r", f"p{i}", "c", "py", f"content {i}", None, "I") for i in range(20)]
    rows += [(99, "r", "big", "c", "py", "x" * 2000, None, "I")]  # size reject
    batch = _batch(spark, rows)

    lake = EnvelopeSink(spark, str(tmp_path / "sink"), max_bytes=500)
    kafka = KafkaEnvelopeWriter(
        spark, "broker1:9092,broker2:9092", "movex.repo_files", max_bytes=500
    )
    r = lake.emit(batch, epoch_id=0)
    wire, rejected = kafka.kafka_frames(batch)

    # value bytes == the lake sink's serialized envelope, row for row
    lake_msgs = {
        row["j"]
        for row in lake.read()
        .select(F.to_json(F.struct(*[F.col(c) for c in ENVELOPE_COLS])).alias("j"))
        .collect()
    }
    wire_rows = wire.collect()
    got_msgs = {bytes(row["value"]).decode("utf-8") for row in wire_rows}
    assert got_msgs == lake_msgs and len(wire_rows) == 20
    # key bytes = msg_key utf-8 (the broker's partitioning/ordering unit)
    import json as _json

    for row in wire_rows:
        assert bytes(row["key"]).decode("utf-8") == _json.loads(
            bytes(row["value"]).decode("utf-8")
        )["msg_key"]
    # same rejects, same reasons
    rej = rejected.collect()
    assert len(rej) == r["n_rejected"] == 1
    assert rej[0]["error_msg"] == "message exceeds size cap"

    # per-key ordering contract: within each wire partition a key's
    # rows are contiguous-ascending by id (one producer task per key,
    # sorted) — checked through the plan's actual partitioning
    def _partition_order(it):
        import json as j

        out = []
        for row in it:
            v = j.loads(bytes(row.value).decode("utf-8"))
            out.append((v["msg_key"], v["id"]))
        yield str(out == sorted(out))

    for flag in wire.rdd.mapPartitions(_partition_order).collect():
        assert flag == "True"


def test_kafka_writer_uses_public_kafka_sink(spark):
    """The writer() must target the PUBLIC Spark Kafka sink: in this
    sandbox the connector jar is absent, so .save() must fail with
    Spark's own 'Failed to find data source: kafka' — proving the plan
    is wired to format('kafka') and not some stub. Also: the producer
    contract options (acks=all, idempotence — kafka_java.rb:179-220)
    are on the writer."""
    import pytest
    from pyspark.errors import AnalysisException

    from movex_cdc_spark.streaming.sink import KafkaEnvelopeWriter

    k = KafkaEnvelopeWriter(spark, "b:9092", "t")
    assert k.options["kafka.acks"] == "all"
    assert k.options["kafka.enable.idempotence"] == "true"
    wire, _ = k.kafka_frames(
        _batch(spark, [(1, "r", "p", "c", "py", "v", None, "I")])
    )
    with pytest.raises(AnalysisException, match="Failed to find data source: kafka"):
        k.writer(wire).save()


def test_kafka_writer_quarantines_rejects_before_produce(spark, tmp_path):
    """KafkaEnvelopeWriter.emit appends its rejects to the dead letter
    BEFORE the produce, as EnvelopeSink does at its log's barrier: here
    the produce fails (the Kafka connector jar is absent from the test
    session) and the reject is already quarantined, once across a
    replay."""
    import pytest
    from pyspark.errors import AnalysisException

    from movex_cdc_spark.streaming.sink import KafkaEnvelopeWriter

    k = KafkaEnvelopeWriter(spark, "b:9092", "t", max_bytes=500)
    dl = DeadLetterTable(spark, str(tmp_path / "dl_envelope"))
    batch = _batch(spark, [(1, "r", "p", "c", "py", "v", None, "I"),
                           (2, "r", "big", "c", "py", "x" * 2000, None, "I")])
    for _ in range(2):
        with pytest.raises(AnalysisException, match="Failed to find data source: kafka"):
            k.emit(batch, stream_id="k", epoch_id=0, dead_letter=dl)
    rej = dl.read().collect()
    assert [(r["id"], r["error_msg"], r["stream_id"]) for r in rej] == [
        (2, "message exceeds size cap", "k-sink")]


def test_kafka_writer_cloudevents_headers(spark):
    """CloudEvents mode: ce_* attributes ride as Kafka headers (binary
    content mode of the CE Kafka binding), value stays the bare
    envelope."""
    from movex_cdc_spark.streaming.sink import KafkaEnvelopeWriter

    k = KafkaEnvelopeWriter(spark, "b:9092", "t", cloudevents=True)
    wire, _ = k.kafka_frames(
        _batch(spark, [(1, "r", "p", "c", "py", "v", None, "I")])
    )
    row = wire.collect()[0]
    hdr = {h["key"]: bytes(h["value"]).decode("utf-8") for h in row["headers"]}
    assert hdr["ce_specversion"] == "1.0"
    assert hdr["ce_type"] == "cdc.insert"
    assert "ce_id" in hdr and "ce_source" in hdr
    # no capture ts in this batch -> ce_time is OMITTED, not null-valued
    assert "ce_time" not in hdr
