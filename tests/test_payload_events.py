"""Event_Logs-shaped source: JSON payload round trip, parse-path
streaming apply, malformed-payload quarantine."""

import pandas as pd
from pyspark.sql import functions as F

from movex_cdc_spark.datagen import (
    GenParams,
    generate_base_snapshot,
    generate_events,
    replay_oracle,
)
from movex_cdc_spark.lake.table import LakeTable
from movex_cdc_spark.operators.apply import KEY_COLS, REPO_FILES_SCHEMA
from movex_cdc_spark.sources.events import (
    EVENTS_SCHEMA,
    PAYLOAD_EVENTS_SCHEMA,
    parse_payload_events,
    to_payload_events,
    write_event_files,
    stage_payload_events,
)
from movex_cdc_spark.streaming.pipeline import CdcStreamPipeline


def test_payload_round_trip(spark):
    p = GenParams(n_events=2000)
    ev = generate_events(p).drop(columns=["is_noop"])
    sdf = spark.createDataFrame(ev)
    back = parse_payload_events(to_payload_events(sdf))
    a = sdf.select("seq", "repo", "path", "commit", "lang", "content", "old_content", "op").orderBy("seq")
    b = back.select("seq", "repo", "path", "commit", "lang", "content", "old_content", "op").orderBy("seq")
    pd.testing.assert_frame_equal(a.toPandas(), b.toPandas())


def test_malformed_payload_quarantined(spark):
    rows = [
        (1, "I", '{"repo":"r"}', '{"repo":"r","path":"p","commit":"c","lang":"py","content":"x","old_content":null}'),
        (2, "I", '{"repo":"r"}', "{this is not json"),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["seq", "op", "msg_key", "payload"])
    ).withColumn("ts", F.current_timestamp()).withColumn("txid", F.lit(0).cast("long"))
    parsed = parse_payload_events(df.select([f.name for f in PAYLOAD_EVENTS_SCHEMA.fields]))
    from movex_cdc_spark.operators.apply import flag_dispositions, split_flagged

    valid, poison = split_flagged(flag_dispositions(parsed))
    assert [r["seq"] for r in valid.collect()] == [1]
    assert [r["seq"] for r in poison.collect()] == [2]


def test_streaming_payload_format_matches_oracle(spark, tmp_path):
    p = GenParams(n_events=3000)
    ev = generate_events(p)
    base = generate_base_snapshot(p)
    t = LakeTable.create(spark, str(tmp_path / "lake"), REPO_FILES_SCHEMA, KEY_COLS, n_buckets=8)
    t.overwrite(
        spark.createDataFrame(base.drop(columns=["last_seq", "deleted"])).withColumn(
            "content_sha", F.sha2("content", 256)
        )
    )
    write_event_files(ev, str(tmp_path / "cols"), n_files=3)
    stage_payload_events(spark, str(tmp_path / "cols"), str(tmp_path / "events"))
    pipe = CdcStreamPipeline(
        spark,
        t,
        str(tmp_path / "events"),
        str(tmp_path / "ckpt"),
        dead_letter_dir=str(tmp_path / "dl"),
        max_files_per_trigger=1,
        payload_format=True,
    )
    pipe.run_available_now()
    final = t.read().select("repo", "path", "content_sha").toPandas()
    oracle = replay_oracle(base, ev)[["repo", "path", "content_sha"]]
    m = final.merge(oracle, on=["repo", "path"], how="outer", indicator=True, suffixes=("_e", "_o"))
    assert (m["_merge"] == "both").all()
    assert (m["content_sha_e"] == m["content_sha_o"]).all()
