"""Health/status surface (streaming/status.py — the reference
/health_check/status analog) and the bounded driver-side epoch lineage
(VERDICT r6 item 4)."""

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from movex_cdc_spark.datagen import GenParams, generate_events
from movex_cdc_spark.lake.table import LakeTable
from movex_cdc_spark.operators.apply import (
    KEY_COLS,
    REPO_FILES_SCHEMA,
    DeadLetterTable,
    apply_batch,
)
from movex_cdc_spark.sources.events import write_event_files
from movex_cdc_spark.streaming.housekeeping import Heartbeat
from movex_cdc_spark.streaming.lineage import MetricsTable
from movex_cdc_spark.streaming.pipeline import (
    EPOCH_HISTORY,
    CdcStreamPipeline,
)
from movex_cdc_spark.streaming.status import engine_status, status_frame


def _run_engine(spark, tmp_path, n=1500, seed=41):
    ev = generate_events(GenParams(n_events=n, seed=seed, p_poison=0.02))
    write_event_files(ev, str(tmp_path / "events"), n_files=3)
    table = LakeTable.create(
        spark, str(tmp_path / "lake"), REPO_FILES_SCHEMA, KEY_COLS, n_buckets=8
    )
    metrics = MetricsTable(spark, str(tmp_path / "metrics"))
    dl = DeadLetterTable(spark, str(tmp_path / "dl"))
    sdf = spark.createDataFrame(ev.drop(columns=["is_noop"]))
    for i in range(3):
        apply_batch(
            table, sdf.filter(F.pmod(F.col("seq"), F.lit(3)) == i),
            epoch_id=i, stream_id="s", dead_letter=dl, metrics=metrics,
        )
    metrics.flush()
    return ev, table


def test_engine_status_consolidates_all_sections(spark, tmp_path):
    ev, table = _run_engine(spark, tmp_path)
    hb = Heartbeat(str(tmp_path / "home"))
    hb.beat()
    st = engine_status(
        spark,
        metrics_dir=str(tmp_path / "metrics"),
        table_dir=str(tmp_path / "lake"),
        checkpoint_home=str(tmp_path / "home"),
        dead_letter_dir=str(tmp_path / "dl"),
        events_dir=str(tmp_path / "events"),
    )
    [s] = st["streams"]
    assert s["stream_id"] == "s" and s["epochs"] == 3 and s["last_epoch_id"] == 2
    assert s["max_seq"] == int(ev[~ev["content"].isna() | (ev["op"] == "D")]["seq"].max())
    assert s["events_per_sec"] is not None and s["last_epoch_age_s"] is not None
    n_poison = int((ev["content"].isna() & (ev["op"] != "D")).sum())
    assert s["n_poison"] == n_poison
    assert st["dead_letter"]["rows"] == n_poison
    assert st["dead_letter"]["quarantine_envelope_rows"] is None  # no such dir
    assert st["table"] == {"version": 3, "exists": True}
    assert st["heartbeat"]["fresh"] and st["heartbeat"]["age_s"] < 60
    # drained: only rows with seq past the max APPLIED seq read as
    # pending — trailing quarantined rows count (honest lag semantics)
    expected_lag = int((ev["seq"] > s["max_seq"]).sum())
    assert st["queue"]["lag_events"] == expected_lag
    # the deterministic projection matches the dict
    row = status_frame(spark, st).collect()[0]
    assert row["n_poison"] == n_poison and row["heartbeat_fresh"] is True

    # JSON-serializable for the CLI / a scrape endpoint
    json.dumps(st, default=str)


def test_unkeyed_epochs_write_metrics_rows(spark, tmp_path):
    """An unkeyed (key_handling='N') table's epochs each write one
    MetricsTable row, counting the valid events pre-dedup, so
    engine_status lists its stream like a keyed one."""
    from movex_cdc_spark.config.table_config import repo_files_config
    from movex_cdc_spark.lake.append_log import UnkeyedEventLog

    ev = generate_events(GenParams(n_events=600, seed=59, p_poison=0.03))
    cfg = repo_files_config()
    cfg.tables["repo_files"].key_handling = "N"
    log = UnkeyedEventLog.create(spark, str(tmp_path / "ulog"))
    pipe = CdcStreamPipeline(
        spark, None, str(tmp_path / "events"), str(tmp_path / "ckpt"), stream_id="u",
        dead_letter_dir=str(tmp_path / "dl"), metrics_dir=str(tmp_path / "metrics"),
        config=cfg, unkeyed_log=log,
    )
    sdf = spark.createDataFrame(ev.drop(columns=["is_noop"]))
    for i in range(2):
        pipe._apply(sdf.filter(F.pmod(F.col("seq"), F.lit(2)) == i), i)
    rows = pipe.metrics.read().collect()  # flushes the buffered rows
    assert sorted(r["epoch_id"] for r in rows) == [0, 1]
    assert {r["counter_scope"] for r in rows} == {"valid_events_pre_dedup"}
    assert sum(r["events"] for r in rows) == log.read().count() > 0
    n_poison = int((ev["content"].isna() & (ev["op"] != "D")).sum())
    assert sum(r["n_poison"] for r in rows) == n_poison > 0

    st = engine_status(spark, metrics_dir=str(tmp_path / "metrics"),
                       dead_letter_dir=str(tmp_path / "dl"))
    [s] = st["streams"]
    assert s["stream_id"] == "u" and s["epochs"] == 2 and s["last_epoch_id"] == 1
    assert s["events_total"] == log.read().count()
    assert s["n_poison"] == st["dead_letter"]["rows"] == n_poison


def test_engine_status_degrades_without_inputs(spark, tmp_path):
    """A minimal deployment (no metrics, no heartbeat, nothing yet)
    still gets a well-formed probe instead of a crash."""
    st = engine_status(
        spark,
        metrics_dir=str(tmp_path / "nope_metrics"),
        table_dir=str(tmp_path / "nope_table"),
        checkpoint_home=str(tmp_path / "nope_home"),
        dead_letter_dir=str(tmp_path / "nope_dl"),
        events_dir=str(tmp_path / "nope_events"),
    )
    assert st["streams"] == []
    assert st["table"] == {"version": None, "exists": False}
    assert st["heartbeat"]["fresh"] is False
    assert st["dead_letter"]["rows"] is None
    assert st["queue"]["lag_events"] is None
    assert status_frame(spark, st).count() == 0


def test_status_reports_queue_lag_before_drain(spark, tmp_path):
    """Lag semantics: events staged but only partially applied —
    pending = rows with seq beyond the max applied seq."""
    ev = generate_events(GenParams(n_events=900, seed=43))
    write_event_files(ev, str(tmp_path / "events"), n_files=3)
    table = LakeTable.create(
        spark, str(tmp_path / "lake"), REPO_FILES_SCHEMA, KEY_COLS, n_buckets=8
    )
    metrics = MetricsTable(spark, str(tmp_path / "metrics"))
    sdf = spark.createDataFrame(ev.drop(columns=["is_noop"]))
    cut = int(ev["seq"].max()) // 3
    apply_batch(table, sdf.filter(F.col("seq") <= cut), epoch_id=0,
                stream_id="s", metrics=metrics)
    metrics.flush()
    st = engine_status(
        spark,
        metrics_dir=str(tmp_path / "metrics"),
        events_dir=str(tmp_path / "events"),
    )
    expected = int((ev["seq"] > st["streams"][0]["max_seq"]).sum())
    assert st["queue"]["lag_events"] == expected > 0


def test_run_pipeline_status_cli(spark, tmp_path, capsys):
    """`run_pipeline.py --status` prints the JSON document and exits 0
    without creating or touching any pipeline state."""
    _run_engine(spark, tmp_path, n=600, seed=47)
    Heartbeat(str(tmp_path / "ckpt_home")).beat()
    import run_pipeline

    rc = run_pipeline.main([
        "--events-dir", str(tmp_path / "events"),
        "--table-dir", str(tmp_path / "lake"),
        "--checkpoint-dir", str(tmp_path / "ckpt"),
        "--dead-letter-dir", str(tmp_path / "dl"),
        "--metrics-dir", str(tmp_path / "metrics"),
        "--status",
    ])
    assert rc == 0
    st = json.loads(capsys.readouterr().out)
    assert st["streams"][0]["stream_id"] == "s"
    assert st["heartbeat"]["fresh"] is True
    assert st["table"]["exists"] is True


def test_epoch_lineage_is_bounded_and_frame_free(spark, tmp_path):
    """VERDICT r6 item 4: the in-memory epochs window must stay bounded
    on a long-lived stream (the durable record is MetricsTable), and no
    record may retain a DataFrame reference."""
    ev = generate_events(GenParams(n_events=400, seed=53, p_poison=0.05))
    write_event_files(ev, str(tmp_path / "events"), n_files=4)
    from movex_cdc_spark.sources.events import stage_payload_events

    stage_payload_events(spark, str(tmp_path / "events"), str(tmp_path / "pe"))
    table = LakeTable.create(
        spark, str(tmp_path / "lake"), REPO_FILES_SCHEMA, KEY_COLS, n_buckets=4
    )
    from movex_cdc_spark.streaming.sink import EnvelopeSink

    pipe = CdcStreamPipeline(
        spark, table, str(tmp_path / "pe"), str(tmp_path / "ckpt"),
        max_files_per_trigger=1, payload_format=True,
        # envelope sink present, NO dead letter: the rejects are
        # dropped, and no frame rides the record
        envelope_sink=EnvelopeSink(spark, str(tmp_path / "sink"), max_bytes=300),
    )
    epochs = pipe.run_available_now()
    assert len(epochs) >= 1
    assert pipe.epochs.maxlen == EPOCH_HISTORY

    def _has_frame(obj):
        if isinstance(obj, DataFrame):
            return True
        if isinstance(obj, dict):
            return any(_has_frame(v) for v in obj.values())
        if isinstance(obj, (list, tuple)):
            return any(_has_frame(v) for v in obj)
        return False

    assert not any(_has_frame(e) for e in epochs)
    # bounded: the window never exceeds EPOCH_HISTORY regardless of how
    # many epochs a continuous trigger commits
    for i in range(EPOCH_HISTORY + 50):
        pipe.epochs.append({"epoch_id": 10_000 + i})
    assert len(pipe.epochs) == EPOCH_HISTORY
