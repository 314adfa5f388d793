"""Housekeeping retention, heartbeat fencing, envelope/CloudEvents."""

import time

import pandas as pd
import pytest
from pyspark.sql import functions as F

from movex_cdc_spark.lake.append_log import UnkeyedEventLog
from movex_cdc_spark.operators.apply import with_envelope
from movex_cdc_spark.streaming.housekeeping import Heartbeat, retain_recent


def test_retain_recent(spark, tmp_path):
    """Final-errors retention runs on the final-errors store, an
    UnkeyedEventLog: rows past ``keep_hours`` leave through the log's
    listing swap, fresh rows stay, and the log reopens."""
    path = str(tmp_path / "final")
    log = UnkeyedEventLog.create(spark, path)
    df = spark.range(10).select(
        F.col("id"),
        F.when(F.col("id") < 7, F.current_timestamp())
        .otherwise(F.expr("current_timestamp() - make_interval(0,0,0,0,200,0,0)"))
        .alias("error_time"),
    )
    log.append(df, stream_id="final", epoch_id=0)
    assert retain_recent(log, keep_hours=96) == 7
    reopened = UnkeyedEventLog.open(spark, path)
    assert sorted(r["id"] for r in reopened.read().collect()) == list(range(7))
    # nothing left to age out: no rewrite
    v = reopened.current_version()
    assert retain_recent(reopened, keep_hours=96) == 7
    assert reopened.current_version() == v


def test_heartbeat_fencing(tmp_path):
    home = str(tmp_path)
    a = Heartbeat(home, instance="a", stale_s=60)
    b = Heartbeat(home, instance="b", stale_s=60)
    a.beat()
    a.beat()  # own heartbeat never fences itself
    with pytest.raises(RuntimeError, match="another instance"):
        b.beat()
    # stale foreign heartbeat is ignored
    c = Heartbeat(home, instance="c", stale_s=0)
    time.sleep(0.01)
    c.beat()


def test_envelope_and_cloudevents(spark):
    cols = ["seq", "repo", "path", "commit", "lang", "content", "old_content", "op", "ts", "txid"]
    df = spark.createDataFrame(
        pd.DataFrame(
            [
                (7, "r", "p", "c1", "py", "body", "old", "U",
                 pd.Timestamp("2026-01-01 00:00:01"), 3),
                (8, "r", "q", "c2", "py", "new", None, "I",
                 pd.Timestamp("2026-01-01 00:00:02"), 3),
            ],
            columns=cols,
        )
    )
    out = {r["id"]: r for r in with_envelope(df, cloudevents=True).collect()}
    u = out[7]
    assert u["operation"] == "UPDATE"
    assert u["msg_key"] == '{"repo":"r","path":"p"}'
    assert '"content":"body"' in u["new_payload"]
    assert '"content":"old"' in u["old_payload"]
    assert u["ce_id"] == "repo_files-7"
    assert u["ce_type"] == "cdc.update"
    assert u["timestamp"].startswith("2026-01-01T00:00:01.000")
    assert out[8]["operation"] == "INSERT"


def test_housekeep_unkeyed_log_compacts_and_expires(spark, tmp_path):
    from movex_cdc_spark.lake.append_log import UnkeyedEventLog
    from movex_cdc_spark.streaming.housekeeping import housekeep_unkeyed_log

    log = UnkeyedEventLog.create(spark, str(tmp_path / "ulog"))
    from pyspark.sql import functions as F

    df = spark.range(120).selectExpr("id", "cast(id as string) AS v")
    for i in range(6):
        log.append(df.filter(F.pmod(F.col("id"), F.lit(6)) == i), epoch_id=i)
    r1 = housekeep_unkeyed_log(log, target_files=2, keep_last=0)
    assert r1["compaction"]["files_after"] <= 2
    assert r1["segments_expired"] == 6  # all six pre-compaction segments
    assert log.read().count() == 120
    # second pass: nothing left to do
    r2 = housekeep_unkeyed_log(log, target_files=2, keep_last=0)
    assert r2["compaction"].get("skipped") and r2["segments_expired"] == 0
