"""Merge-on-read inside LakeTable: delta epochs are COW-equivalent,
compaction is the copy-on-write merge, fencing and crash windows hold,
and the changelog and expiry understand delta files."""

import os

import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from movex_cdc_spark.datagen import GenParams, generate_events, replay_oracle
from movex_cdc_spark.lake import table as table_mod
from movex_cdc_spark.lake.table import MAX_DELTA_DEPTH, LakeTable, bucket_expr
from movex_cdc_spark.operators.apply import KEY_COLS, REPO_FILES_SCHEMA, apply_batch

COLS = ["seq", "repo", "path", "commit", "lang", "content", "op"]


def _table(spark, path, n_buckets=4):
    return LakeTable.create(spark, str(path), REPO_FILES_SCHEMA, KEY_COLS, n_buckets=n_buckets)


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


def _depths(t):
    return {int(b): sum(table_mod._is_delta(f) for f in files)
            for b, files in t.meta()["buckets"].items()}


def _b(spark, rows):
    return spark.createDataFrame(pd.DataFrame(rows, columns=COLS))


def test_mor_equals_cow(spark, tmp_path, cow_only):
    cow, t = _table(spark, tmp_path / "cow"), _table(spark, tmp_path / "lake")
    _, batches = _clean_batches(spark)
    for i, b in enumerate(batches):
        with cow_only():
            assert cow.merge(b, epoch_id=i)["write_mode"] == "cow"
        lin = t.merge(b, epoch_id=i)
        assert lin["write_mode"] == "delta" and lin["files_written"] == 1
    assert _state(cow) == _state(t)
    # delta epochs never wrote a base file: every list is deltas only
    assert all(table_mod._is_delta(f) for fs in t.meta()["buckets"].values() for f in fs)
    assert set(_depths(t).values()) == {len(batches)}


def test_mor_compaction_preserves_state_and_truncates(spark, tmp_path, cow_only):
    cow, t = _table(spark, tmp_path / "cow"), _table(spark, tmp_path / "lake")
    _, batches = _clean_batches(spark)
    for i, b in enumerate(batches):
        with cow_only():
            cow.merge(b, epoch_id=i)
        t.merge(b, epoch_id=i)
    before = _state(t)
    lin = t.compact()
    assert lin["write_mode"] == "cow" and lin["max_delta_depth"] == 0
    assert _state(t) == before == _state(cow)
    # every bucket is back to one base file; the fold reads them as-is
    assert set(_depths(t).values()) == {0}
    assert t.compact().get("skipped")
    # post-compaction merges keep working and later seqs still win
    t.merge(_b(spark, [(10**9, "repo_0", "src/mod0/file0.txt", "c", "py", "NEWEST", "U")]),
            epoch_id=99)
    got = {r["path"]: r["content"] for r in t.read().filter("repo = 'repo_0'").collect()}
    assert got["src/mod0/file0.txt"] == "NEWEST"


def test_mor_auto_compaction_threshold(spark, tmp_path, cow_only):
    """The depth bound is per bucket: a merge that touches a full bucket
    compacts the buckets it touches plus every other bucket already at
    the bound; buckets below the bound keep their deltas, and reads
    match the copy-on-write table."""
    cow, t = _table(spark, tmp_path / "cow"), _table(spark, tmp_path / "lake")
    _, batches = _clean_batches(spark, n_events=1600, epochs=MAX_DELTA_DEPTH)
    epochs = iter(range(100))

    def merge(batch):
        e = next(epochs)
        with cow_only():
            cow.merge(batch, epoch_id=e)
        return t.merge(batch, epoch_id=e)

    def upsert(seq, path):
        return _b(spark, [(seq, "repo_0", path, "c", "py", f"v{seq}", "U")])

    for b in batches[:-1]:
        assert merge(b)["write_mode"] == "delta"
    one = "src/mod0/file0.txt"
    assert merge(upsert(10**6, one))["write_mode"] == "delta"
    depths = _depths(t)
    (b0,) = [b for b, d in depths.items() if d == MAX_DELTA_DEPTH]
    assert set(depths.values()) == {MAX_DELTA_DEPTH - 1, MAX_DELTA_DEPTH}

    # only b0 is at the bound: the others keep their deltas
    lin = merge(upsert(10**6 + 1, one))
    assert lin["write_mode"] == "cow" and lin["buckets_touched"] == [b0]
    depths = _depths(t)
    assert depths.pop(b0) == 0 and set(depths.values()) == {MAX_DELTA_DEPTH - 1}
    assert lin["max_delta_depth"] == MAX_DELTA_DEPTH - 1

    # the other buckets reach the bound; a merge touching one of them
    # rewrites them all in one job, and b0 keeps its delta
    assert merge(batches[-1])["write_mode"] == "delta"
    bucket = {
        r["path"]: r["b"]
        for r in spark.createDataFrame([("repo_0", f"new{i}") for i in range(16)], KEY_COLS)
        .select("path", bucket_expr(KEY_COLS, 4).alias("b")).collect()
    }
    other = next(p for p, b in bucket.items() if b != b0)
    lin = merge(upsert(10**6 + 2, other))
    assert lin["write_mode"] == "cow"
    assert lin["buckets_touched"] == sorted(set(range(4)) - {b0})
    assert _depths(t) == {**{b: 0 for b in range(4)}, b0: 1}
    assert _state(t) == _state(cow)


def test_mor_auto_compaction_epoch_policy(spark, tmp_path, cow_only):
    """Epochs that touch every bucket append MAX_DELTA_DEPTH delta files,
    then compact on the next one: one rewrite per 5 epochs (the r7
    measured sweet spot), whatever the row volume."""
    t = _table(spark, tmp_path / "lake")
    _, batches = _clean_batches(spark, n_events=3000, epochs=12)
    lins = [t.merge(b, epoch_id=i) for i, b in enumerate(batches)]
    fired = [i for i, lin in enumerate(lins) if lin["write_mode"] == "cow"]
    assert fired == [4, 9]
    assert [lin["max_delta_depth"] for lin in lins][-3:] == [0, 1, 2]
    # and state is unaffected by when compaction fired
    cow = _table(spark, tmp_path / "cow")
    with cow_only():
        for i, b in enumerate(batches):
            cow.merge(b, epoch_id=i)
    assert _state(cow) == _state(t)


def test_mor_epoch_fence_and_crash_window(spark, tmp_path, cow_only):
    t = _table(spark, tmp_path / "lake")
    _, batches = _clean_batches(spark, n_events=600, epochs=2)
    t.merge(batches[0], epoch_id=0)
    n = t.read().count()
    # a replayed delta epoch is fenced
    assert t.merge(batches[0], epoch_id=0).get("skipped")
    assert t.read().count() == n
    v = t.current_version()
    # crash between a delta write and its commit: the orphan file is in
    # no list, the replay appends a fresh one and converges
    real = LakeTable._write_version

    def crashing(self, meta):
        raise RuntimeError("simulated crash")

    LakeTable._write_version = crashing
    try:
        with pytest.raises(RuntimeError, match="simulated crash"):
            t.merge(batches[1], epoch_id=1)
    finally:
        LakeTable._write_version = real
    assert t.current_version() == v
    lin = t.merge(batches[1], epoch_id=1)
    assert lin["write_mode"] == "delta" and lin["version"] == v + 1
    assert set(_depths(t).values()) == {2}
    cow = _table(spark, tmp_path / "cow")
    with cow_only():
        for i, b in enumerate(batches):
            cow.merge(b, epoch_id=i)
    assert _state(t) == _state(cow)


def test_streaming_pipeline_through_mor(spark, tmp_path):
    """The checkpointed streaming shell drives a LakeTable through delta
    epochs and a compacting epoch mid-stream, with the correct final
    state vs the pandas replay oracle."""
    from movex_cdc_spark.sources.events import write_event_files
    from movex_cdc_spark.streaming.pipeline import CdcStreamPipeline

    ev = generate_events(GenParams(n_events=3000, seed=43))
    write_event_files(ev, str(tmp_path / "events"), n_files=MAX_DELTA_DEPTH + 2)
    t = _table(spark, tmp_path / "lake")
    pipe = CdcStreamPipeline(
        spark,
        t,
        events_dir=str(tmp_path / "events"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        dead_letter_dir=str(tmp_path / "dl"),
        max_files_per_trigger=1,
    )
    epochs = pipe.run_available_now()
    modes = [e["write_mode"] for e in epochs]
    assert modes == ["delta"] * MAX_DELTA_DEPTH + ["cow", "delta"]
    final = t.read().select("repo", "path", "content_sha").toPandas()
    oracle = replay_oracle(ev.iloc[0:0][["repo", "path", "commit", "lang", "content"]], ev)
    m = final.merge(oracle[["repo", "path", "content_sha"]], on=["repo", "path"],
                    how="outer", indicator=True, suffixes=("_e", "_o"))
    assert (m["_merge"] == "both").all()
    assert (m["content_sha_e"] == m["content_sha_o"]).all()


def test_streaming_mor_with_metrics_does_not_deadlock(spark, tmp_path):
    """Delta epochs on the streaming probe path: the probe's observation
    is delivered with metrics on (obs.get never blocks), and a delta
    epoch writes exactly the valid events the probe counted."""
    from movex_cdc_spark.sources.events import write_event_files
    from movex_cdc_spark.streaming.pipeline import CdcStreamPipeline

    ev = generate_events(GenParams(n_events=1200, seed=47))
    write_event_files(ev, str(tmp_path / "events"), n_files=2)
    t = _table(spark, tmp_path / "lake")
    pipe = CdcStreamPipeline(
        spark, t,
        events_dir=str(tmp_path / "events"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        dead_letter_dir=str(tmp_path / "dl"),
        metrics_dir=str(tmp_path / "metrics"),
        max_files_per_trigger=1,
    )
    epochs = pipe.run_available_now(timeout_s=300)
    assert len(epochs) == 2
    assert all(e.get("counter_scope") == "valid_events_pre_dedup" for e in epochs)
    assert all(e["write_mode"] == "delta" for e in epochs)
    assert all(e["rows_written"] == e["metrics"]["events"] for e in epochs)
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

    ev = generate_events(GenParams(n_events=1500, seed=53, p_poison=0.05))
    write_event_files(ev, str(tmp_path / "events"), n_files=2)
    t = _table(spark, tmp_path / "lake")
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
    m = dl.log.meta()
    healed = dl.read(m).withColumn("content", F.lit("healed")).withColumn(
        "last_error_time", F.expr("last_error_time - make_interval(0,0,0,1,0,0,0)")
    )
    dl.replace(healed, m)
    worker = RetryWorker(spark, t, dl, str(tmp_path / "final"), max_retries=2)
    r = worker.readmit(epoch_id=100)
    assert r["healed"] == n_dl
    assert dl.read() is None or dl.read().count() == 0


def test_apply_batch_through_mor(spark, tmp_path):
    """The batch-replay flow lands delta epochs too: its probe counts
    the rows the delta file holds."""
    ev = generate_events(GenParams(n_events=1500, seed=41))
    t = _table(spark, tmp_path / "lake")
    df = spark.createDataFrame(ev.drop(columns=["is_noop"]))
    for i in range(2):
        lin = apply_batch(t, df.filter(F.pmod(F.col("seq"), F.lit(2)) == i), epoch_id=i)
        assert lin["write_mode"] == "delta" and lin["files_written"] == 1
        (delta,) = {fs[-1] for fs in t.meta()["buckets"].values()}
        assert lin["rows_written"] == pq.read_metadata(os.path.join(t.path, delta)).num_rows
    final = t.read().select("repo", "path", "content_sha").toPandas()
    oracle = replay_oracle(ev.iloc[0:0][["repo", "path", "commit", "lang", "content"]], ev)
    m = final.merge(oracle[["repo", "path", "content_sha"]], on=["repo", "path"],
                    how="outer", indicator=True, suffixes=("_e", "_o"))
    assert (m["_merge"] == "both").all()
    assert (m["content_sha_e"] == m["content_sha_o"]).all()


def test_compaction_retires_and_expires_delta_segments(spark, tmp_path):
    """Compacted delta files must not leak on disk: expire_snapshots
    keeps a delta dir while any kept version's lists name it — also
    after a compaction of only some of its buckets — and reaps it once
    none does."""
    t = _table(spark, tmp_path / "lake", n_buckets=2)
    for i in range(3):
        rows = [(10 * i + j, f"r{j}", "p", "c", "py", f"v{i}", "U") for j in range(6)]
        t.merge(_b(spark, rows), epoch_id=i)
    dirs = {f.split(os.sep)[1] for fs in t.meta()["buckets"].values() for f in fs}
    assert len(dirs) == 3 and set(_depths(t).values()) == {3}
    t.compact(buckets=[0])  # bucket 1 still names every delta dir
    assert t.expire_snapshots(keep_last=1) == 0
    assert all(os.path.isdir(tmp_path / "lake" / "data" / d) for d in dirs)
    t.compact()
    before = _state(t)
    assert t.expire_snapshots(keep_last=1) == 3  # one file per delta dir
    assert not any(os.path.isdir(tmp_path / "lake" / "data" / d) for d in dirs)
    assert _state(t) == before and len(before) == 6


def test_mor_changes_classification_and_refusals(spark, tmp_path, cow_only):
    """changes(from, to) over delta epochs diffs the per-bucket file
    lists and classifies folded states; a range spanning a compaction
    is answerable (the fold makes both sides resolved states) and
    matches a copy-on-write table fed the same events; reversed ranges
    are still refused."""
    t, cow = _table(spark, tmp_path / "lake"), _table(spark, tmp_path / "cow")

    def both(rows, epoch):
        t.merge(_b(spark, rows), epoch_id=epoch)
        with cow_only():
            cow.merge(_b(spark, rows), epoch_id=epoch)

    def changes(tb, v0, v1=None):
        return {r["path"]: (r["change_op"], r["content"], r["last_seq"])
                for r in tb.changes(v0, v1).collect()}

    both([(1, "r", "a", "c", "py", "a1", "I"),
          (2, "r", "b", "c", "py", "b1", "I"),
          (3, "r", "d", "c", "py", None, "D")], 0)
    v1 = t.current_version()
    both([(4, "r", "b", "c", "py", "b2", "U"),   # U
          (5, "r", "c", "c", "py", "c1", "I"),   # I
          (6, "r", "a", "c", "py", None, "D"),   # D
          (7, "r", "d", "c", "py", None, "D")], 1)  # dead->dead: suppressed
    got = changes(t, v1)
    assert {k: v[:2] for k, v in got.items()} == {
        "b": ("U", "b2"), "c": ("I", "c1"), "a": ("D", None)}
    assert got == changes(cow, v1)
    with pytest.raises(ValueError, match="reversed"):
        t.changes(99, v1)
    # a compaction inside the range changes no answer
    t.compact()
    both([(8, "r", "e", "c", "py", "e1", "I"), (9, "r", "b", "c", "py", "b3", "U")], 2)
    assert changes(t, v1) == changes(cow, v1)
    assert {k: v[0] for k, v in changes(t, t.current_version() - 1).items()} == {
        "e": "I", "b": "U"}


def test_mor_changes_chaining_reproduces_state(spark, tmp_path):
    """Chaining the changelog of a table that takes delta and compacting
    epochs into a downstream table must reproduce the upstream folded
    state exactly — the delta variant of the cdc_changes_chaining
    oracle row."""
    t = _table(spark, tmp_path / "lake")
    down = _table(spark, tmp_path / "down")
    _, batches = _clean_batches(spark, n_events=1500, seed=91, epochs=MAX_DELTA_DEPTH + 2)
    modes = []
    for i, b in enumerate(batches):
        v_before = t.current_version()
        modes.append(t.merge(b, epoch_id=i)["write_mode"])
        down.merge(
            t.changes(v_before, t.current_version()),
            seq_col="last_seq", op_col="change_op", epoch_id=i,
        )
    assert "cow" in modes and "delta" in modes
    assert _state(t) == _state(down)
    assert len(_state(t)) > 0
