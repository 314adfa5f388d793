"""Merge-on-read path: COW-equivalence, compaction, fencing, crash
window, and apply_batch integration."""

import pandas as pd
from pyspark.sql import functions as F

from movex_cdc_spark.datagen import GenParams, generate_events, replay_oracle
from movex_cdc_spark.lake.mor import COMPACT_STREAM, MergeOnReadTable
from movex_cdc_spark.lake.table import LakeTable
from movex_cdc_spark.operators.apply import KEY_COLS, REPO_FILES_SCHEMA, apply_batch
from movex_cdc_spark.operators.lww import lww_dedup_maxby


def _tables(spark, tmp_path, compact_rows=10**9):
    cow = LakeTable.create(spark, str(tmp_path / "cow"), REPO_FILES_SCHEMA, KEY_COLS, n_buckets=4)
    base = LakeTable.create(spark, str(tmp_path / "base"), REPO_FILES_SCHEMA, KEY_COLS, n_buckets=4)
    mor = MergeOnReadTable(base, str(tmp_path / "delta"), compact_rows=compact_rows)
    return cow, mor


def _clean_batches(spark, n_events=2000, seed=37, epochs=3):
    ev = generate_events(GenParams(n_events=n_events, seed=seed, p_poison=0.0, p_filtered=0.0))
    ev = ev[~ev["is_noop"]].drop(columns=["is_noop", "ts", "txid", "old_content"])
    df = spark.createDataFrame(ev)
    return ev, [df.filter(F.pmod(F.col("seq"), F.lit(epochs)) == i) for i in range(epochs)]


def _state(t):
    return {
        (r["repo"], r["path"]): (r["content"], r["last_seq"])
        for r in t.read().select("repo", "path", "content", "last_seq").collect()
    }


def test_mor_equals_cow(spark, tmp_path):
    cow, mor = _tables(spark, tmp_path)
    _, batches = _clean_batches(spark)
    for i, b in enumerate(batches):
        d = lww_dedup_maxby(b, KEY_COLS)
        cow.merge(d, epoch_id=i)
        lin = mor.merge(d, epoch_id=i)
        assert lin["mode"] == "delta-append"
    assert _state(cow) == _state(mor)
    # delta never rewrote the base: base is still at its created version
    assert mor.base.read().count() == 0


def test_mor_compaction_preserves_state_and_truncates(spark, tmp_path):
    cow, mor = _tables(spark, tmp_path, compact_rows=10**9)
    _, batches = _clean_batches(spark)
    for i, b in enumerate(batches):
        d = lww_dedup_maxby(b, KEY_COLS)
        cow.merge(d, epoch_id=i)
        mor.merge(d, epoch_id=i)
    before = _state(mor)
    lin = mor.compact()
    assert lin["mode"] == "compaction"
    assert _state(mor) == before == _state(cow)
    # delta is empty, base carries the state now
    assert mor.delta.meta()["files"] == []
    assert mor.base.read().count() == len(before)
    # post-compaction merges keep working and later seqs still win
    extra = spark.createDataFrame(
        pd.DataFrame(
            [(10**9, "repo_0", "src/mod0/file0.txt", "c", "py", "NEWEST", "U")],
            columns=["seq", "repo", "path", "commit", "lang", "content", "op"],
        )
    )
    mor.merge(extra, epoch_id=99)
    got = {r["path"]: r["content"] for r in mor.read().filter("repo = 'repo_0'").collect()}
    assert got["src/mod0/file0.txt"] == "NEWEST"


def test_mor_auto_compaction_threshold(spark, tmp_path):
    _, mor = _tables(spark, tmp_path, compact_rows=1000)
    _, batches = _clean_batches(spark, n_events=2400, epochs=3)
    lins = [mor.merge(lww_dedup_maxby(b, KEY_COLS), epoch_id=i) for i, b in enumerate(batches)]
    assert any("compaction" in l for l in lins)
    assert mor.delta.meta()["rows"] < 1000  # compacted at least once


def test_mor_auto_compaction_epoch_policy(spark, tmp_path):
    """The measured default policy (bench.py --mor-policy: every 5
    epochs wins on total write+read wall): compact_epochs fires on
    APPENDED-EPOCH count independent of row volume, and the counter
    resets with the truncation commit."""
    base = LakeTable.create(
        spark, str(tmp_path / "base"), REPO_FILES_SCHEMA, KEY_COLS, n_buckets=4
    )
    mor = MergeOnReadTable(
        base, str(tmp_path / "delta"), compact_rows=10**9, compact_epochs=5
    )
    _, batches = _clean_batches(spark, n_events=3000, epochs=12)
    lins = [
        mor.merge(lww_dedup_maxby(b, KEY_COLS), epoch_id=i)
        for i, b in enumerate(batches)
    ]
    fired = [i for i, l in enumerate(lins) if "compaction" in l]
    assert fired == [4, 9]  # every 5th append, rows threshold never hit
    assert mor.delta.meta()["delta_epochs"] == 2  # 10,11 since the reset
    # and state is unaffected by when compaction fired
    cow = LakeTable.create(
        spark, str(tmp_path / "cow"), REPO_FILES_SCHEMA, KEY_COLS, n_buckets=4
    )
    for i, b in enumerate(batches):
        cow.merge(lww_dedup_maxby(b, KEY_COLS), epoch_id=i)
    assert _state(cow) == _state(mor)


def test_mor_epoch_fence_and_crash_window(spark, tmp_path):
    _, mor = _tables(spark, tmp_path)
    _, batches = _clean_batches(spark, n_events=600, epochs=2)
    d0 = lww_dedup_maxby(batches[0], KEY_COLS)
    mor.merge(d0, epoch_id=0)
    n = mor.read().count()
    # replayed delta epoch is fenced
    r = mor.merge(d0, epoch_id=0)
    assert r.get("skipped")
    assert mor.read().count() == n

    # crash window: the base merge of a compaction committed, but the
    # truncate did not happen — a compact() replay must be a fenced
    # no-op merge followed by the truncate, with unchanged state
    before = _state(mor)
    dv = mor.delta.meta()["version"]
    squashed = mor.delta.read()
    payload = [c for c in squashed.columns if c not in KEY_COLS and c != "__d_seq"]
    squashed = (
        squashed.groupBy(*KEY_COLS)
        .agg(F.max_by(F.struct(*payload), F.col("__d_seq")).alias("__w"),
             F.max("__d_seq").alias("__d_seq"))
        .select(*KEY_COLS, *[F.col(f"__w.{c}").alias(c) for c in payload], "__d_seq")
    )
    mor.base.merge(squashed, seq_col="__d_seq", op_col="__d_op",
                   stream_id=COMPACT_STREAM, epoch_id=dv)  # "crash" here
    lin = mor.compact()  # replay: merge fenced, truncate proceeds
    assert lin.get("skipped")
    assert mor.delta.meta()["files"] == []
    assert _state(mor) == before


def test_streaming_pipeline_through_mor(spark, tmp_path):
    """The checkpointed streaming shell drives a MergeOnReadTable sink:
    delta appends per micro-batch, auto-compaction mid-stream, correct
    final state vs the pandas replay oracle."""
    from movex_cdc_spark.sources.events import write_event_files
    from movex_cdc_spark.streaming.pipeline import CdcStreamPipeline

    ev = generate_events(GenParams(n_events=3000, seed=43))
    write_event_files(ev, str(tmp_path / "events"), n_files=4)
    base = LakeTable.create(spark, str(tmp_path / "base"), REPO_FILES_SCHEMA, KEY_COLS, n_buckets=4)
    mor = MergeOnReadTable(base, str(tmp_path / "delta"), compact_rows=1200)
    pipe = CdcStreamPipeline(
        spark,
        mor,
        events_dir=str(tmp_path / "events"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        dead_letter_dir=str(tmp_path / "dl"),
        max_files_per_trigger=1,
    )
    epochs = pipe.run_available_now()
    assert any("compaction" in e for e in epochs)  # threshold crossed mid-stream
    final = mor.read().select("repo", "path", "content_sha").toPandas()
    oracle = replay_oracle(ev.iloc[0:0][["repo", "path", "commit", "lang", "content"]], ev)
    m = final.merge(oracle[["repo", "path", "content_sha"]], on=["repo", "path"],
                    how="outer", indicator=True, suffixes=("_e", "_o"))
    assert (m["_merge"] == "both").all()
    assert (m["content_sha_e"] == m["content_sha_o"]).all()


def test_streaming_mor_with_metrics_does_not_deadlock(spark, tmp_path):
    """Regression: the streaming fast path attaches its counters to the
    bucket-probe collect, but MergeOnReadTable has no buckets to probe.
    With metrics enabled, an observation attached to a probe that never
    runs would block obs.get forever. The sink's supports_probe flag
    must route the observation back onto the batch plan (which MoR's
    delta-append write executes and delivers)."""
    from movex_cdc_spark.sources.events import write_event_files
    from movex_cdc_spark.streaming.pipeline import CdcStreamPipeline

    ev = generate_events(GenParams(n_events=1200, seed=47))
    write_event_files(ev, str(tmp_path / "events"), n_files=2)
    base = LakeTable.create(spark, str(tmp_path / "base"), REPO_FILES_SCHEMA, KEY_COLS, n_buckets=4)
    mor = MergeOnReadTable(base, str(tmp_path / "delta"))
    pipe = CdcStreamPipeline(
        spark, mor,
        events_dir=str(tmp_path / "events"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        dead_letter_dir=str(tmp_path / "dl"),
        metrics_dir=str(tmp_path / "metrics"),
        max_files_per_trigger=1,
    )
    epochs = pipe.run_available_now(timeout_s=300)
    assert len(epochs) == 2
    assert all(e.get("counter_scope") == "deduped_keys" for e in epochs)
    rows = pipe.metrics.read().collect()
    assert sum(r["events"] for r in rows) > 0


def test_fast_path_dead_letters_survive_readmit(spark, tmp_path):
    """Regression: the slim streaming cache drops old_content, so
    fast-path quarantine rows lack the old image; RetryWorker's
    re-validation chain must still resolve (no-op check is skipped when
    the old image was not retained) and heal the rows."""
    from movex_cdc_spark.sources.events import write_event_files
    from movex_cdc_spark.streaming.pipeline import CdcStreamPipeline
    from movex_cdc_spark.streaming.retry import RetryWorker
    from pyspark.sql import functions as F

    ev = generate_events(GenParams(n_events=1500, seed=53, p_poison=0.05))
    write_event_files(ev, str(tmp_path / "events"), n_files=2)
    t = LakeTable.create(spark, str(tmp_path / "lake"), REPO_FILES_SCHEMA, KEY_COLS, n_buckets=4)
    pipe = CdcStreamPipeline(
        spark, t,
        events_dir=str(tmp_path / "events"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        dead_letter_dir=str(tmp_path / "dl"),
        max_files_per_trigger=1,
    )
    epochs = pipe.run_available_now(timeout_s=300)
    assert all(e.get("counter_scope") == "valid_events_pre_dedup" for e in epochs)
    dl = pipe.dead_letter
    n_dl = dl.read().count()
    assert n_dl > 0
    # dead letters carry the EVENT_COLS shape with a NULL old image
    assert "old_content" in dl.read().columns
    # heal all rows and re-admit through the normal merge path
    healed = dl.read().withColumn("content", F.lit("healed")).withColumn(
        "last_error_time", F.expr("last_error_time - make_interval(0,0,0,1,0,0,0)")
    )
    dl.replace(healed)
    worker = RetryWorker(spark, t, dl, str(tmp_path / "final"), max_retries=2)
    r = worker.readmit(epoch_id=100)
    assert r["healed"] == n_dl
    assert dl.read() is None or dl.read().count() == 0


def test_apply_batch_through_mor(spark, tmp_path):
    ev = generate_events(GenParams(n_events=1500, seed=41))
    base = LakeTable.create(spark, str(tmp_path / "base"), REPO_FILES_SCHEMA, KEY_COLS, n_buckets=4)
    mor = MergeOnReadTable(base, str(tmp_path / "delta"))
    df = spark.createDataFrame(ev.drop(columns=["is_noop"]))
    for i in range(2):
        apply_batch(mor, df.filter(F.pmod(F.col("seq"), F.lit(2)) == i), epoch_id=i)
    final = mor.read().select("repo", "path", "content_sha").toPandas()
    oracle = replay_oracle(ev.iloc[0:0][["repo", "path", "commit", "lang", "content"]], ev)
    m = final.merge(oracle[["repo", "path", "content_sha"]], on=["repo", "path"],
                    how="outer", indicator=True, suffixes=("_e", "_o"))
    assert (m["_merge"] == "both").all()
    assert (m["content_sha_e"] == m["content_sha_o"]).all()


def test_compaction_retires_and_expires_delta_segments(spark, tmp_path):
    """Drained delta segments must not leak on disk forever: compaction
    RETIRES them (readers with the old listing keep working) and
    expire_segments reaps them past the retention window."""
    import os

    base = LakeTable.create(
        spark, str(tmp_path / "base"), REPO_FILES_SCHEMA, KEY_COLS, n_buckets=4
    )
    mor = MergeOnReadTable(base, str(tmp_path / "delta"), compact_rows=10**12)
    cols = ["seq", "repo", "path", "commit", "lang", "content", "old_content", "op"]
    for i in range(3):
        rows = [(10 * i + j, f"r{j}", "p", "c", "py", f"v{i}", None, "U")
                for j in range(4)]
        apply_batch(mor, spark.createDataFrame(pd.DataFrame(rows, columns=cols)),
                    epoch_id=i)
    seg_dirs = {f.split(os.sep)[0] for f in mor.delta.meta()["files"]}
    assert len(seg_dirs) == 3
    r = mor.compact()
    assert r["mode"] == "compaction"
    # within retention (keep_last=2 at compact): dirs still on disk
    for d in seg_dirs:
        assert os.path.isdir(tmp_path / "delta" / d)
    assert mor.delta.expire_segments(keep_last=0) == 3
    for d in seg_dirs:
        assert not os.path.isdir(tmp_path / "delta" / d)
    assert mor.read().count() == 4  # state unaffected by expiry


def test_mor_changes_classification_and_refusals(spark, tmp_path):
    """MoR incremental changelog (VERDICT r5 item 5): the delta
    segments ARE the changelog — changes(from, to) reads only the
    segments appended in range, classifies I/U/D against the
    (base ∪ delta@from) state, suppresses dead->dead and stale rows,
    and REFUSES reversed and swap-spanning ranges."""
    import pytest

    _, mor = _tables(spark, tmp_path)
    cols = ["seq", "repo", "path", "commit", "lang", "content", "op"]

    def _b(rows):
        return spark.createDataFrame(pd.DataFrame(rows, columns=cols))

    mor.merge(_b([
        (1, "r", "a", "c", "py", "a1", "I"),
        (2, "r", "b", "c", "py", "b1", "I"),
        (3, "r", "d", "c", "py", None, "D"),
    ]), epoch_id=0)
    v1 = mor.delta.meta()["version"]
    mor.merge(_b([
        (4, "r", "b", "c", "py", "b2", "U"),   # U
        (5, "r", "c", "c", "py", "c1", "I"),   # I
        (6, "r", "a", "c", "py", None, "D"),   # D
        (7, "r", "d", "c", "py", None, "D"),   # dead->dead: suppressed
    ]), epoch_id=1)
    got = {r["path"]: (r["change_op"], r["content"]) for r in mor.changes(v1).collect()}
    assert got == {"b": ("U", "b2"), "c": ("I", "c1"), "a": ("D", None)}

    with pytest.raises(ValueError, match="reversed"):
        mor.changes(99, v1)
    # compaction folds delta into base -> spanning range refused,
    # post-compaction baseline still incremental
    mor.compact()
    with pytest.raises(ValueError, match="spans a listing swap"):
        mor.changes(v1)
    # regression: retired records are PRUNED by expire_segments, so the
    # refusal must come from the durable last_swap_version marker — a
    # consumer lagging past the retention window otherwise got a
    # silently-wrong diff against the post-swap base
    mor.delta.expire_segments(keep_last=0)
    assert not mor.delta.meta().get("retired")
    with pytest.raises(ValueError, match="spans a listing swap"):
        mor.changes(v1)
    v_after = mor.delta.meta()["version"]
    mor.merge(_b([(8, "r", "e", "c", "py", "e1", "I")]), epoch_id=2)
    got2 = {r["path"]: r["change_op"] for r in mor.changes(v_after).collect()}
    assert got2 == {"e": "I"}
    # base state resurfaces in classification: update a key that now
    # lives in the BASE (post-compaction) -> U, not I
    v3 = mor.delta.meta()["version"]
    mor.merge(_b([(9, "r", "b", "c", "py", "b3", "U")]), epoch_id=3)
    got3 = {r["path"]: r["change_op"] for r in mor.changes(v3).collect()}
    assert got3 == {"b": "U"}


def test_mor_changes_chaining_reproduces_state(spark, tmp_path):
    """Chaining the MoR changelog into a downstream COW table must
    reproduce the upstream resolved state exactly — the MoR variant of
    the cdc_changes_chaining oracle row."""
    _, mor = _tables(spark, tmp_path)
    down = LakeTable.create(spark, str(tmp_path / "down"), REPO_FILES_SCHEMA,
                            KEY_COLS, n_buckets=4)
    _, batches = _clean_batches(spark, n_events=1500, seed=91)
    for i, b in enumerate(batches):
        v_before = mor.delta.meta()["version"]
        mor.merge(lww_dedup_maxby(b, KEY_COLS), epoch_id=i)
        down.merge(
            mor.changes(v_before, mor.delta.meta()["version"]),
            seq_col="last_seq", op_col="change_op", epoch_id=i,
        )
    up_state = {
        (r["repo"], r["path"]): (r["content"], r["last_seq"])
        for r in mor.read().select("repo", "path", "content", "last_seq").collect()
    }
    assert up_state == _state(down)
    assert len(up_state) > 0
