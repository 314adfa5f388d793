"""Kafka inbound-queue wire contract (sources/kafka.py): lossless
round trip through the exact producer/source wire shape, malformed
records to the poison path, and an end-to-end pipeline drain with the
transport hop inline — all broker-free by construction."""

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
    PAYLOAD_EVENTS_SCHEMA,
    read_events_stream,
    stage_payload_events,
    to_multiplex_events,
    to_payload_events,
    write_event_files,
)
from movex_cdc_spark.sources.kafka import (
    KAFKA_SOURCE_SCHEMA,
    parse_queue_wire,
    simulate_kafka_hop,
)
from movex_cdc_spark.streaming.pipeline import CdcStreamPipeline


def _payload_events(spark, n=2000):
    ev = generate_events(GenParams(n_events=n)).drop(columns=["is_noop"])
    return to_payload_events(spark.createDataFrame(ev))


def test_wire_roundtrip_is_lossless(spark):
    pe = _payload_events(spark)
    # exercise the null corners the wire must carry: unkeyed events
    # (msg_key NULL -> NULL kafka key, S5) and a NULL payload/txid
    pe = pe.withColumn(
        "msg_key", F.when(F.col("seq") % 7 == 0, F.lit(None)).otherwise(F.col("msg_key"))
    ).withColumn(
        "payload", F.when(F.col("seq") % 11 == 0, F.lit(None)).otherwise(F.col("payload"))
    ).withColumn(
        "txid", F.when(F.col("seq") % 13 == 0, F.lit(None)).otherwise(F.col("txid"))
    )
    back = simulate_kafka_hop(pe)
    assert back.schema == PAYLOAD_EVENTS_SCHEMA
    cols = [f.name for f in PAYLOAD_EVENTS_SCHEMA.fields]
    a = pe.select(cols).orderBy("seq").toPandas()
    b = back.select(cols).orderBy("seq").toPandas()
    pd.testing.assert_frame_equal(a, b)
    # ts survives to exact microsecond precision (int64 micros wire)
    assert (a["ts"] == b["ts"]).all()


def test_wire_roundtrip_tagged_multiplex(spark):
    ev = generate_events(GenParams(n_events=1000)).drop(columns=["is_noop"])
    sdf = spark.createDataFrame(ev)
    tagged = to_multiplex_events(
        sdf, F.when(F.col("seq") % 2 == 0, F.lit("tbl_a")).otherwise(F.lit("tbl_b"))
    )
    back = simulate_kafka_hop(tagged, tagged=True)
    a = tagged.orderBy("seq").toPandas()
    b = back.select(a.columns.tolist()).orderBy("seq").toPandas()
    pd.testing.assert_frame_equal(a, b)
    assert set(b["table_name"]) == {"tbl_a", "tbl_b"}


def test_malformed_record_flows_to_poison_split(spark):
    """Transport junk must quarantine, never merge: a malformed value
    parses to an all-null row; the poison split's unknown-op rule
    catches it after the payload parse (the pipeline's real chain)."""
    good_payload = (
        '{\\"repo\\":\\"r\\",\\"path\\":\\"p\\",\\"commit\\":\\"c\\",'
        '\\"lang\\":\\"py\\",\\"content\\":\\"x\\"}'
    )
    rows = [
        (b"k1", ('{"seq":1,"op":"I","payload":"%s","ts":1000000,"txid":7}' % good_payload).encode()),
        (b"k2", b"\xff\xfe not json at all"),
        (None, None),  # tombstone/empty record: all-null row, poisoned
        (b"k4", b'{"seq":4,"op":"Z","payload":null,"ts":2000000,"txid":8}'),
    ]
    wire = spark.createDataFrame(
        [(k, v, "events", 0, i, None, 0) for i, (k, v) in enumerate(rows)],
        KAFKA_SOURCE_SCHEMA,
    )
    from movex_cdc_spark.operators.apply import flag_dispositions, split_flagged
    from movex_cdc_spark.sources.events import parse_payload_events

    parsed = parse_payload_events(parse_queue_wire(wire))
    valid, poison = split_flagged(flag_dispositions(parsed))
    vrows = valid.collect()
    assert [r["seq"] for r in vrows] == [1]
    assert vrows[0]["content"] == "x"
    assert vrows[0]["ts"].microsecond == 0  # 1e6 micros = 1s exactly
    prows = poison.collect()
    assert len(prows) == 3
    assert all(r["error_msg"] == "unknown operation" for r in prows)
    assert sorted(r["seq"] for r in prows if r["seq"] is not None) == [4]


def test_pipeline_drain_through_kafka_hop_matches_direct(spark, tmp_path):
    """End-to-end: the SAME event stream drained once directly and once
    through the serialized wire hop converges to the identical final
    state — the hop is invisible to every downstream operator."""
    p = GenParams(n_events=3000)
    ev = generate_events(p)
    base = generate_base_snapshot(p)
    write_event_files(ev, str(tmp_path / "cols"), n_files=3)
    stage_payload_events(spark, str(tmp_path / "cols"), str(tmp_path / "events"))

    finals = {}
    for mode in ("direct", "kafka_hop"):
        t = LakeTable.create(
            spark, str(tmp_path / f"lake_{mode}"), REPO_FILES_SCHEMA, KEY_COLS, n_buckets=8
        )
        t.overwrite(
            spark.createDataFrame(base.drop(columns=["last_seq", "deleted"])).withColumn(
                "content_sha", F.sha2("content", 256)
            )
        )
        src = None
        if mode == "kafka_hop":
            raw = read_events_stream(
                spark, str(tmp_path / "events"), 1, schema=PAYLOAD_EVENTS_SCHEMA
            )
            src = simulate_kafka_hop(raw)
        pipe = CdcStreamPipeline(
            spark,
            t,
            str(tmp_path / "events"),
            str(tmp_path / f"ckpt_{mode}"),
            dead_letter_dir=str(tmp_path / f"dl_{mode}"),
            max_files_per_trigger=1,
            payload_format=True,
            source_df=src,
        )
        pipe.run_available_now()
        finals[mode] = (
            t.read().select("repo", "path", "content_sha").orderBy("repo", "path").toPandas()
        )

    pd.testing.assert_frame_equal(finals["direct"], finals["kafka_hop"])
    oracle = replay_oracle(base, ev)[["repo", "path", "content_sha"]]
    m = finals["kafka_hop"].merge(
        oracle, on=["repo", "path"], how="outer", indicator=True, suffixes=("_e", "_o")
    )
    assert (m["_merge"] == "both").all()
    assert (m["content_sha_e"] == m["content_sha_o"]).all()


# ---------------------------------------------------------------- property
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

# adversarial payload text: JSON metacharacters, control chars,
# unicode astral plane, backslash runs — everything to_json must
# escape and json_tuple must unescape exactly
_nasty_text = st.text(
    alphabet=st.one_of(
        st.characters(min_codepoint=0x20, max_codepoint=0x7E),
        st.sampled_from('"\\\n\t\r\b\f/{}[]:,é世\U0001f600  '),
    ),
    max_size=40,
)


@settings(max_examples=10, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2**40),          # seq
            st.sampled_from(["I", "U", "D"]),                   # op
            st.one_of(st.none(), _nasty_text),                  # msg_key
            st.one_of(st.none(), _nasty_text),                  # payload
            # bounded to year-9999-representable: Python datetime (the
            # collect() side) caps there; Spark/the wire carry int64
            st.integers(min_value=0, max_value=250_000_000_000_000_000),  # micros
            st.one_of(st.none(), st.integers(0, 2**40)),        # txid
        ),
        min_size=1,
        max_size=20,
        unique_by=lambda r: r[0],
    )
)
def test_wire_roundtrip_property(spark, rows):
    """Any UTF-8 msg_key/payload — JSON metacharacters, control chars,
    astral-plane codepoints, line/paragraph separators — survives the
    serialize→bytes→parse hop exactly, as do 62-bit timestamps."""
    from pyspark.sql import types as T

    pe = spark.createDataFrame(
        [(seq, op, mk, pl, ts, tx) for seq, op, mk, pl, ts, tx in rows],
        T.StructType(
            [
                T.StructField("seq", T.LongType()),
                T.StructField("op", T.StringType()),
                T.StructField("msg_key", T.StringType()),
                T.StructField("payload", T.StringType()),
                T.StructField("_micros", T.LongType()),
                T.StructField("txid", T.LongType()),
            ]
        ),
    ).select(
        "seq", "op", "msg_key", "payload",
        F.timestamp_micros(F.col("_micros")).alias("ts"), "txid",
    )
    back = simulate_kafka_hop(pe)
    cols = [f.name for f in PAYLOAD_EVENTS_SCHEMA.fields]
    a = pe.select(cols).orderBy("seq").collect()
    b = back.select(cols).orderBy("seq").collect()
    assert a == b
