"""Retry re-admission (ST5/S11), snapshot bootstrap (S8), multimodal
mapInPandas plumbing."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from movex_cdc_spark.config.table_config import repo_files_config
from movex_cdc_spark.lake.table import LakeTable
from movex_cdc_spark.operators.apply import (
    KEY_COLS,
    REPO_FILES_SCHEMA,
    DeadLetterTable,
    apply_batch,
)
from movex_cdc_spark.operators.bootstrap import snapshot_to_init_events
from movex_cdc_spark.operators.multimodal import (
    decode,
    decode_ppm,
    decode_vid0,
    decode_wav,
    encode_ppm,
    encode_vid0,
    encode_wav,
    extract_features,
    frame_sample_plan,
    synthesize_media,
)
from movex_cdc_spark.streaming.retry import RetryWorker

COLS = ["seq", "repo", "path", "commit", "lang", "content", "old_content", "op"]


def _batch(spark, rows):
    return spark.createDataFrame(pd.DataFrame(rows, columns=COLS))


def test_retry_readmission(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "lake"), REPO_FILES_SCHEMA, KEY_COLS, n_buckets=4)
    dl = DeadLetterTable(spark, str(tmp_path / "dl"))
    # poison insert (null content) gets quarantined
    apply_batch(
        t,
        _batch(spark, [(1, "r", "p", "c", "py", None, None, "I"),
                       (2, "r", "q", "c", "py", "good", None, "I")]),
        epoch_id=0,
        dead_letter=dl,
    )
    assert t.read().count() == 1
    assert dl.read().count() == 1

    worker = RetryWorker(spark, t, dl, str(tmp_path / "final"), max_retries=2)
    # first pass: still poison -> retry_count 1
    r1 = worker.readmit(epoch_id=1)
    assert r1["healed"] == 0 and r1["final_errors"] == 0
    assert dl.read().collect()[0]["retry_count"] == 1
    # backoff not yet elapsed -> not eligible
    r2 = worker.readmit(epoch_id=2)
    assert r2["eligible"] == 0

    # heal the row in the dead-letter table, force eligibility — through
    # the table's own atomic rewrite (the dl dir is a fenced log now,
    # not a bare parquet dir)
    m = dl.log.meta()
    healed = dl.read(m).withColumn("content", F.lit("recovered")).withColumn(
        "last_error_time", F.expr("last_error_time - make_interval(0,0,0,1,0,0,0)")
    )
    dl.replace(healed, m)
    r3 = worker.readmit(epoch_id=3)
    assert r3["healed"] == 1
    got = {r["path"]: r["content"] for r in t.read().collect()}
    assert got["p"] == "recovered"
    assert dl.read().count() == 0


def test_retry_exhaustion_to_final_errors(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "lake"), REPO_FILES_SCHEMA, KEY_COLS, n_buckets=4)
    dl = DeadLetterTable(spark, str(tmp_path / "dl"))
    # old image non-null so the row is NOT a no-op update (null <=> null
    # would be suppressed before quarantine, as the reference trigger
    # simply would not fire)
    apply_batch(t, _batch(spark, [(1, "r", "p", "c", "py", None, "prev", "U")]), epoch_id=0, dead_letter=dl)
    worker = RetryWorker(spark, t, dl, str(tmp_path / "final"), max_retries=1, start_delay_s=0)
    # reference semantics (transfer_thread.rb:476): retry while
    # retry_count < max_retries — so max_retries=1 grants ONE retry pass
    # before the row moves to final errors on the next pass.
    r1 = worker.readmit(epoch_id=1)
    assert r1["final_errors"] == 0
    assert dl.read().collect()[0]["retry_count"] == 1
    r2 = worker.readmit(epoch_id=2)
    assert r2["final_errors"] == 1
    assert worker.final_errors().count() == 1
    assert dl.read() is None or dl.read().count() == 0


def test_snapshot_bootstrap(spark, tmp_path):
    cfg = repo_files_config().tables["repo_files"]
    cfg.initialization_filter = "lang = 'py'"
    base = spark.createDataFrame(
        pd.DataFrame(
            [("r", "a", "c0", "py", "x"), ("r", "b", "c0", "go", "y")],
            columns=["repo", "path", "commit", "lang", "content"],
        )
    )
    ev = snapshot_to_init_events(base, cfg, snapshot_seq=0)
    rows = ev.collect()
    assert len(rows) == 1 and rows[0]["op"] == "I" and rows[0]["seq"] == 0
    # INIT events flow through the normal apply; later seqs still win
    t = LakeTable.create(spark, str(tmp_path / "lake"), REPO_FILES_SCHEMA, KEY_COLS, n_buckets=2)
    apply_batch(t, ev.withColumn("old_content", F.lit(None).cast("string")), epoch_id=0)
    apply_batch(t, _batch(spark, [(5, "r", "a", "c1", "py", "x2", None, "U")]), epoch_id=1)
    got = {r["path"]: r["content"] for r in t.read().collect()}
    assert got == {"a": "x2"}


def test_multimodal_features(spark):
    media = synthesize_media(spark, n=12)
    feats = extract_features(media)
    rows = feats.collect()
    assert len(rows) == 12
    assert all(len(r["feature"]) == 8 for r in rows)
    # deterministic: same payload -> same feature
    again = {r["media_id"]: r["feature"] for r in extract_features(media).collect()}
    assert all(again[r["media_id"]] == r["feature"] for r in rows)


def test_multimodal_codec_round_trips():
    import numpy as np

    pix = np.arange(4 * 3 * 3, dtype=np.int64).astype(np.uint8)
    w, h, got = decode_ppm(encode_ppm(4, 3, pix))
    assert (w, h) == (4, 3) and (got == pix).all()

    smp = (np.arange(100, dtype=np.int64) * 37 % 4096 - 2048).astype(np.int16)
    rate, got = decode_wav(encode_wav(smp, rate=16000))
    assert rate == 16000 and (got == smp).all()

    fr = (np.arange(2 * 2 * 2 * 3, dtype=np.int64) % 256).astype(np.uint8)
    w, h, nf, got = decode_vid0(encode_vid0(2, 2, fr))
    assert (w, h, nf) == (2, 2, 2) and (got == fr).all()


def test_multimodal_codec_rejects_corrupt_payloads():
    import numpy as np

    with pytest.raises(ValueError):
        decode(b"JFIF not ppm", "image")
    with pytest.raises(ValueError):
        decode(b"RIFFxxxxNOPE", "audio")
    with pytest.raises(ValueError):
        decode(b"VID1\x00\x00\x00\x00\x00\x00", "video")
    # truncated data section fails the size check, not just the magic
    good = encode_ppm(4, 3, np.zeros(36, dtype=np.uint8))
    with pytest.raises(ValueError):
        decode(good[:-5], "image")
    # truncated ASCII header must RAISE, not scan past EOF forever
    with pytest.raises(ValueError):
        decode(b"P6\n16 ", "image")
    with pytest.raises(ValueError):
        decode(b"P6\nxx yy\n255\n", "image")
    # truncated fixed-width headers surface as ValueError, never
    # struct.error (the documented quarantine contract)
    with pytest.raises(ValueError):
        decode(b"VID0\x02\x00", "video")
    wav = encode_wav(np.zeros(10, dtype=np.int16))
    with pytest.raises(ValueError):
        decode(wav[:20], "audio")


def test_frame_sample_plan(spark):
    media = synthesize_media(spark, n=12)
    plan = frame_sample_plan(media, every_ms=500)
    for r in plan.collect():
        if r["duration_ms"] > 0:
            assert r["frame_ts_ms"][0] == 0
            assert all(t % 500 == 0 for t in r["frame_ts_ms"])
        else:
            assert r["frame_ts_ms"] == []


def test_multimodal_corrupt_rows_quarantined_not_task_fatal(spark):
    """One corrupt payload in a batch must not fail the task: the bad
    row comes back with feature NULL + decode_error set, the good rows
    decode normally (ADVICE r4). Zero-sample WAV / zero-frame VID0 are
    structurally valid but have no units — same quarantine path, and
    the error is the documented ValueError message, not an Index/
    ValueError crash past the decode boundary."""
    import numpy as np
    import pandas as pd
    from movex_cdc_spark.operators.multimodal import MEDIA_SCHEMA, encode_wav, encode_vid0

    good = synthesize_media(spark, n=6).collect()
    bad_rows = [
        (100, "image", bytearray(b"JFIF not a ppm"), ("image/ppm", 4, 3, 0)),
        (101, "audio", bytearray(encode_wav(np.array([], dtype=np.int16))),
         ("audio/wav", None, None, 0)),
        (102, "video", bytearray(encode_vid0(2, 2, np.array([], dtype=np.uint8))),
         ("video/x-vid0", 2, 2, 0)),
        (103, "image", None, ("image/ppm", 0, 0, 0)),  # NULL payload
    ]
    media = spark.createDataFrame([tuple(r) for r in good] + bad_rows, MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in extract_features(media).collect()}
    assert len(out) == 10
    for r in good:
        row = out[r["media_id"]]
        assert row["decode_error"] is None and len(row["feature"]) == 8
    assert out[100]["feature"] is None and "not a P6" in out[100]["decode_error"]
    assert out[101]["feature"] is None and "empty audio" in out[101]["decode_error"]
    assert out[102]["feature"] is None and "empty video" in out[102]["decode_error"]
    assert out[103]["feature"] is None and "null payload" in out[103]["decode_error"]
    assert out[103]["n_bytes"] == 0


def test_arrow_batch_guard_lowers_conf_for_large_payloads(spark):
    """guard_arrow_batch_for_media turns the comment-only caveat into
    enforcement: large payload bound -> session conf lowered + warning;
    small payloads leave the conf alone."""
    import warnings
    from movex_cdc_spark.operators.multimodal import guard_arrow_batch_for_media

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key)
    try:
        assert guard_arrow_batch_for_media(spark, 100) == int(before)
        assert spark.conf.get(key) == before
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            safe = guard_arrow_batch_for_media(spark, 1 << 20)  # 1 MiB payloads
            assert safe == (256 << 20) // (1 << 20) == 256
            assert any("lowering" in str(x.message) for x in w)
        assert int(spark.conf.get(key)) == 256
    finally:
        spark.conf.set(key, before)
