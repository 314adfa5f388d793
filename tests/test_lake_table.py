"""LakeTable unit behavior: bucket pruning, schema evolution, time
travel, commit conflicts, snapshot expiry."""

import json
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from movex_cdc_spark.lake.table import MAX_DELTA_DEPTH, CommitConflict, LakeTable, bucket_expr
from movex_cdc_spark.operators.apply import KEY_COLS, REPO_FILES_SCHEMA

COLS = ["seq", "repo", "path", "commit", "lang", "content", "op"]


def _batch(spark, rows):
    return spark.createDataFrame(pd.DataFrame(rows, columns=COLS))


def _table(spark, path, n_buckets=16):
    return LakeTable.create(spark, path, REPO_FILES_SCHEMA, KEY_COLS, n_buckets=n_buckets)


def test_bucket_pruning(spark, tmp_lake):
    """A batch touching one key must rewrite only that key's bucket —
    the property that keeps merge cost O(touched data) at 10^10 rows."""
    t = _table(spark, tmp_lake)
    rows = [(i, f"r{i}", f"p{i}", "c", "py", f"v{i}", "I") for i in range(200)]
    t.merge(_batch(spark, rows), epoch_id=0)
    lin = t.merge(_batch(spark, [(1000, "r1", "p1", "c2", "py", "v1b", "U")]), epoch_id=1)
    assert len(lin["buckets_touched"]) == 1
    # untouched buckets carry identical file references forward
    m_old, m_new = t.meta(t.current_version() - 1), t.meta()
    touched = str(lin["buckets_touched"][0])
    for b, files in m_old["buckets"].items():
        if b != touched:
            assert m_new["buckets"][b] == files
    got = {r["path"]: r["content"] for r in t.read().collect()}
    assert got["p1"] == "v1b" and len(got) == 200


def test_schema_evolution_add_and_widen(spark, tmp_lake):
    t = _table(spark, tmp_lake, n_buckets=4)
    t.merge(_batch(spark, [(1, "r", "p", "c", "py", "x", "I")]), epoch_id=0)
    b2 = _batch(spark, [(2, "r", "p2", "c", "py", "y", "I")]).withColumn(
        "stars", F.lit(3).cast("int")
    )
    t.evolve_schema(T.StructType([f for f in b2.schema.fields if f.name not in ("seq", "op")]))
    t.merge(b2, epoch_id=1)
    rows = {r["path"]: r for r in t.read().collect()}
    assert rows["p"]["stars"] is None and rows["p2"]["stars"] == 3
    # widen int -> long (metadata only, old files still readable)
    t.evolve_schema(T.StructType([T.StructField("stars", T.LongType())]))
    assert dict(t.read().dtypes)["stars"] == "bigint"
    assert {r["path"]: r["stars"] for r in t.read().collect()} == {"p": None, "p2": 3}
    # incompatible change refused
    with pytest.raises(ValueError):
        t.evolve_schema(T.StructType([T.StructField("content", T.LongType())]))


def test_all_null_new_column_ignored(spark, tmp_lake):
    """A batch column that is entirely null (NullType inference, e.g. a
    delete-only micro-batch or a not-yet-populated new field) carries
    no type info: merge applies, schema does not change."""
    t = _table(spark, tmp_lake, n_buckets=4)
    t.merge(_batch(spark, [(1, "r", "p", "c", "py", "x", "I")]), epoch_id=0)
    b = _batch(spark, [(2, "r", "p", "c", "py", "y", "U")]).withColumn("mystery", F.lit(None))
    t.evolve_schema(T.StructType([f for f in b.schema.fields if f.name not in ("seq", "op")]))
    t.merge(b, epoch_id=1)
    assert "mystery" not in [f.name for f in t.payload_schema().fields]
    assert t.read().collect()[0]["content"] == "y"


def test_time_travel(spark, tmp_lake):
    t = _table(spark, tmp_lake, n_buckets=4)
    t.merge(_batch(spark, [(1, "r", "p", "c", "py", "v1", "I")]), epoch_id=0)
    v1 = t.current_version()
    t.merge(_batch(spark, [(2, "r", "p", "c", "py", "v2", "U")]), epoch_id=1)
    assert t.read().collect()[0]["content"] == "v2"
    assert t.read(version=v1).collect()[0]["content"] == "v1"


def test_metadata_with_the_retired_stats_field_still_loads(spark, tmp_lake):
    """v0 no longer carries the never-read ``stats`` field; a table whose
    metadata was written with it still loads, merges and reads."""
    t = _table(spark, tmp_lake)
    assert "stats" not in t.meta()
    v0 = os.path.join(t.meta_dir, "v0.json")
    m = json.loads(open(v0).read())
    m["stats"] = {"rows_live": 0, "rows_total": 0}
    with open(v0, "w") as f:
        f.write(json.dumps(m))
    old = LakeTable.load(spark, tmp_lake)
    old.merge(_batch(spark, [(1, "r", "p", "c", "py", "v", "I")]), epoch_id=0)
    assert [r["content"] for r in LakeTable.load(spark, tmp_lake).read().collect()] == ["v"]


def test_commit_conflict(spark, tmp_lake):
    t = _table(spark, tmp_lake, n_buckets=2)
    m = t.meta()
    m2 = dict(m)
    m2["version"], m2["parent"] = m["version"] + 1, m["version"]
    t._write_version(m2)
    with pytest.raises(CommitConflict):
        t._write_version(dict(m2))


def test_expire_snapshots(spark, tmp_lake):
    t = _table(spark, tmp_lake, n_buckets=2)
    for i in range(MAX_DELTA_DEPTH):
        t.merge(_batch(spark, [(i + 1, "r", "p", "c", "py", f"v{i}", "I" if i == 0 else "U")]), epoch_id=i)
    # delta epochs: every file is still named by the head's list
    assert t.expire_snapshots(keep_last=1) == 0
    for i in range(MAX_DELTA_DEPTH, MAX_DELTA_DEPTH + 2):  # compacts, then a delta
        t.merge(_batch(spark, [(i + 1, "r", "p", "c", "py", f"v{i}", "U")]), epoch_id=i)
    before = t.read().collect()
    removed = t.expire_snapshots(keep_last=1)
    assert removed > 0
    assert t.read().collect() == before


def test_empty_and_null_key_batch(spark, tmp_lake):
    t = _table(spark, tmp_lake, n_buckets=2)
    empty = spark.createDataFrame([], _batch(spark, [(1, "r", "p", "c", "py", "x", "I")]).schema)
    assert t.merge(empty, epoch_id=0).get("skipped")
    # null key column routes deterministically (nulls group as equal), no crash
    t.merge(_batch(spark, [(1, None, "p", "c", "py", "x", "I")]), epoch_id=1)
    t.merge(_batch(spark, [(2, None, "p", "c", "py", "y", "U")]), epoch_id=2)
    rows = t.read().collect()
    assert len(rows) == 1 and rows[0]["content"] == "y"


def test_merge_with_retry_on_commit_conflict(spark, tmp_path):
    """A racing writer steals the version between plan and commit; the
    optimistic retry re-reads metadata and lands on the next version."""
    import pandas as pd
    from movex_cdc_spark.lake.table import CommitConflict, LakeTable, bucket_expr
    from movex_cdc_spark.operators.apply import KEY_COLS, REPO_FILES_SCHEMA

    t = LakeTable.create(spark, str(tmp_path / "lake"), REPO_FILES_SCHEMA, KEY_COLS, n_buckets=2)
    batch = spark.createDataFrame(
        pd.DataFrame(
            [(1, "r", "p", "c", "py", "v1", "I")],
            columns=["seq", "repo", "path", "commit", "lang", "content", "op"],
        )
    )
    # steal version 1 right before the real writer's first commit
    real_write = LakeTable._write_version
    stolen = {"done": False}

    def stealing_write(self, meta):
        if not stolen["done"] and meta["version"] == 1 and meta.get("buckets"):
            stolen["done"] = True
            m = dict(self.meta())
            m["version"] = 1
            m["parent"] = 0
            real_write(self, m)  # the "other writer" commits v1 first
        return real_write(self, meta)

    LakeTable._write_version = stealing_write
    try:
        lin = t.merge_with_retry(batch, seq_col="seq", op_col="op", epoch_id=0)
    finally:
        LakeTable._write_version = real_write
    assert lin["version"] == 2  # retried onto the next version
    assert t.read().count() == 1


def _probe(t, frame):
    """Touched buckets of ``frame``'s keys — the list
    apply_batch_flagged hands to merge(probe=...)."""
    n = t.meta()["n_buckets"]
    rows = frame.select(bucket_expr(KEY_COLS, n).alias("b")).distinct().collect()
    return sorted(r["b"] for r in rows)


def test_merge_probe_path_and_divergence_guard(spark, tmp_lake, cow_only):
    """A caller-supplied probe drives bucket pruning without persisting
    src; a probe whose key set diverges from the batch must abort the
    snapshot loudly instead of silently orphaning written buckets."""
    t = _table(spark, tmp_lake, n_buckets=8)
    rows = [(i, f"r{i}", f"p{i}", "c", "py", f"v{i}", "I") for i in range(40)]
    batch = _batch(spark, rows)
    t.merge(batch, epoch_id=0, probe=_probe(t, batch))
    assert t.read().count() == 40

    # superset probe (extra keys) is SAFE: prunes less, loses nothing
    more = _batch(spark, [(100, "rX", "pX", "c", "py", "vX", "I")])
    t.merge(more, epoch_id=1, probe=_probe(t, more.unionByName(batch.limit(5))))
    assert t.read().count() == 41

    # diverging probe (MISSING the batch's buckets) aborts, commits
    # nothing, and leaves no staged dir — on either write arm. Compact
    # first: a copy-on-write merge also rewrites every bucket whose
    # deltas reach the bound, and a rewritten bucket is not orphaned.
    t.compact()
    batch2 = _batch(spark, [(200, f"rY{i}", "p", "c", "py", "y", "I") for i in range(8)])
    wrong = _probe(t, batch.limit(1))  # bucket of r0 only
    before = t.current_version()
    staged = set(os.listdir(t.data_dir))
    with pytest.raises(RuntimeError, match="outside the probed"):
        t.merge(batch2, epoch_id=2, probe=wrong)
    with cow_only(), pytest.raises(RuntimeError, match="outside the probed"):
        t.merge(batch2, epoch_id=2, probe=wrong)
    assert t.current_version() == before
    assert set(os.listdir(t.data_dir)) == staged
    assert t.read().count() == 41


def test_merge_wider_than_cores_writes_one_file_per_bucket(spark, tmp_lake, cow_only):
    """Snapshot writes run min(buckets, defaultParallelism) tasks, so a
    merge touching more buckets than there are cores packs several
    buckets per task — each touched bucket must still get exactly one
    parquet file, in merge and in the bulk overwrite."""
    cores = spark.sparkContext.defaultParallelism
    n_buckets = 2 * cores + 3
    t = _table(spark, tmp_lake, n_buckets=n_buckets)
    base = [(0, f"r{i}", f"p{i}", "c", "py", f"v{i}", "I") for i in range(40 * n_buckets)]
    t.overwrite(_batch(spark, base).drop("seq", "op"))
    assert all(len(f) == 1 for f in t.meta()["buckets"].values())
    assert len(t.meta()["buckets"]) == n_buckets

    upd = [(1, f"r{i}", f"p{i}", "c2", "py", f"w{i}", "U") for i in range(0, 40 * n_buckets, 3)]
    with cow_only():  # the base-file rewrite is what this sizes
        lin = t.merge(_batch(spark, upd), epoch_id=0)
    touched = lin["buckets_touched"]
    assert len(touched) > cores
    m = t.meta()
    snap = os.path.join(t.path, os.path.dirname(os.path.dirname(m["buckets"][str(touched[0])][0])))
    written = [
        os.path.join(root, f)
        for root, _d, files in os.walk(snap)
        for f in files
        if f.endswith(".parquet")
    ]
    assert len(written) == len(touched)
    assert all(len(m["buckets"][str(b)]) == 1 for b in touched)
    got = {r["path"]: r["content"] for r in t.read().collect()}
    assert len(got) == 40 * n_buckets
    assert got["p3"] == "w3" and got["p1"] == "v1"


def test_crash_between_snapshot_write_and_commit_replays_clean(spark, tmp_lake):
    """Kill-between-write-and-commit: the staged snapshot dir is written
    but _write_version never runs (hard crash). The foreachBatch replay
    of the SAME epoch recomputes the same target version — with
    version-named snapshot dirs the rewrite collided with the orphan
    ("path already exists") and wedged the stream permanently. With
    uuid-suffixed dirs (same fix the append log documents,
    append_log.py:15-17) the replay stages a fresh dir and converges;
    expire_snapshots reaps the orphan."""
    import os

    t = _table(spark, tmp_lake, n_buckets=4)
    t.merge(_batch(spark, [(1, "r", "p", "c", "py", "v1", "I")]), epoch_id=0)

    real = LakeTable._write_version

    def crashing(self, meta):
        raise RuntimeError("simulated crash")

    batch = _batch(spark, [(2, "r", "p", "c", "py", "v2", "U")])
    LakeTable._write_version = crashing
    try:
        with pytest.raises(RuntimeError, match="simulated crash"):
            t.merge(batch, epoch_id=1)
    finally:
        LakeTable._write_version = real

    data_dir = os.path.join(tmp_lake, "data")
    orphans = [d for d in os.listdir(data_dir) if d.startswith("snap-2-")]
    assert len(orphans) == 1  # staged dir exists...
    assert t.current_version() == 1  # ...but metadata never advanced

    # replay of the same epoch must succeed and converge
    lin = t.merge(batch, epoch_id=1)
    assert not lin.get("skipped") and lin["version"] == 2
    rows = t.read().collect()
    assert len(rows) == 1 and rows[0]["content"] == "v2"
    assert len([d for d in os.listdir(data_dir) if d.startswith("snap-2-")]) == 2

    # inside the keep_last grace window the orphan is NOT touched (it
    # is version-indistinguishable from a slow in-flight writer's
    # staging dir); once the head advances past version+keep_last it
    # ages into eligibility and the liveness reap takes it
    assert t.expire_snapshots(keep_last=2) == 0
    assert len([d for d in os.listdir(data_dir) if d.startswith("snap-2-")]) == 2
    t.merge(_batch(spark, [(3, "r", "p", "c", "py", "v3", "U")]), epoch_id=2)
    t.merge(_batch(spark, [(4, "r", "p", "c", "py", "v4", "U")]), epoch_id=3)
    removed = t.expire_snapshots(keep_last=2)
    assert removed > 0
    # the orphan is gone; the replay's delta dir is still named
    named = {f.split(os.sep)[1] for fs in t.meta()["buckets"].values() for f in fs}
    left = [d for d in os.listdir(data_dir) if d.startswith("snap-2-")]
    assert len(left) == 1 and left[0] in named
    assert t.read().collect()[0]["content"] == "v4"

    # every commit so far was a delta epoch; the bucket is now at full
    # depth, so the next merge compacts — crash that commit the same way
    assert max(len(f) for f in t.meta()["buckets"].values()) == MAX_DELTA_DEPTH
    batch5 = _batch(spark, [(5, "r", "p", "c", "py", "v5", "U")])
    LakeTable._write_version = crashing
    try:
        with pytest.raises(RuntimeError, match="simulated crash"):
            t.merge(batch5, epoch_id=4)
    finally:
        LakeTable._write_version = real
    assert len([d for d in os.listdir(data_dir) if d.startswith("snap-5-")]) == 1
    lin = t.merge(batch5, epoch_id=4)
    assert lin["write_mode"] == "cow" and lin["version"] == 5
    assert t.read().collect()[0]["content"] == "v5"
    t.merge(_batch(spark, [(6, "r", "p", "c", "py", "v6", "U")]), epoch_id=5)
    t.merge(_batch(spark, [(7, "r", "p", "c", "py", "v7", "U")]), epoch_id=6)
    assert t.expire_snapshots(keep_last=2) > 0
    # only the replayed compaction's dir survives at version 5
    assert len([d for d in os.listdir(data_dir) if d.startswith("snap-5-")]) == 1
    assert t.read().collect()[0]["content"] == "v7"


def test_crash_between_overwrite_write_and_commit_replays_clean(spark, tmp_lake):
    """Same hazard on the bulk-load path (overwrite): a crashed bootstrap
    must be re-runnable without hand-deleting the orphan."""
    t = _table(spark, tmp_lake, n_buckets=4)
    df = _batch(spark, [(1, "r", "p", "c", "py", "v1", "I")]).drop("seq", "op")

    real = LakeTable._write_version

    def crashing(self, meta):
        raise RuntimeError("simulated crash")

    LakeTable._write_version = crashing
    try:
        with pytest.raises(RuntimeError, match="simulated crash"):
            t.overwrite(df)
    finally:
        LakeTable._write_version = real
    assert t.current_version() == 0

    t.overwrite(df)  # replay converges
    assert t.current_version() == 1
    assert t.read().collect()[0]["content"] == "v1"


def test_fs_seam_carries_all_metadata_io(spark, tmp_lake):
    """Every metadata/commit IO call goes through the fs seam
    (lake/fs.py): a counting wrapper injected at create() must observe
    the version commits, pointer swaps, and listings — no call site may
    bypass it with direct os.*/open(). This is what makes the
    HDFS/S3A swap mechanical."""
    from movex_cdc_spark.lake.fs import LocalFS

    class CountingFS(LocalFS):
        def __init__(self):
            self.calls = {}

        def _count(self, name):
            self.calls[name] = self.calls.get(name, 0) + 1

        def read_text(self, path):
            self._count("read_text")
            return super().read_text(path)

        def create_exclusive_text(self, path, text):
            self._count("create_exclusive_text")
            return super().create_exclusive_text(path, text)

        def replace_text(self, path, text):
            self._count("replace_text")
            return super().replace_text(path, text)

        def walk(self, path):
            self._count("walk")
            return super().walk(path)

    fs = CountingFS()
    t = LakeTable.create(spark, tmp_lake, REPO_FILES_SCHEMA, KEY_COLS, n_buckets=4, fs=fs)
    t.merge(_batch(spark, [(1, "r", "p", "c", "py", "v1", "I")]), epoch_id=0)
    t.merge(_batch(spark, [(2, "r", "p", "c", "py", "v2", "U")]), epoch_id=1)
    assert t.read().collect()[0]["content"] == "v2"
    # create + 2 merges = 3 commits, each one exclusive-create + pointer swap
    assert fs.calls["create_exclusive_text"] == 3
    assert fs.calls["replace_text"] == 3
    # each merge lists its staged snapshot with one walk
    assert fs.calls["read_text"] > 0 and fs.calls["walk"] == 2


def test_hadoop_fs_impl_runs_the_table(spark, tmp_lake):
    """The cluster seam impl (HadoopFS over spark._jvm) drives the SAME
    LakeTable code against Hadoop's local FileSystem (file://) —
    proving the LocalFS→cluster swap is mechanical: metadata commits,
    the exclusive-create commit lock, and the FileContext OVERWRITE
    rename all run through Hadoop IO, no os.* involved."""
    from movex_cdc_spark.lake.fs import HadoopFS

    fs = HadoopFS(spark)
    t = LakeTable.create(spark, tmp_lake, REPO_FILES_SCHEMA, KEY_COLS,
                         n_buckets=4, fs=fs)
    t.merge(_batch(spark, [(1, "r", "p", "c", "py", "v1", "I")]), epoch_id=0)
    t.merge(_batch(spark, [(2, "r", "p", "c", "py", "v2", "U")]), epoch_id=1)
    assert t.read().collect()[0]["content"] == "v2"
    assert t.current_version() == 2

    # commit lock: double-commit of one version -> CommitConflict
    m = t.meta()
    m2 = dict(m); m2["version"], m2["parent"] = m["version"] + 1, m["version"]
    t._write_version(m2)
    with pytest.raises(CommitConflict):
        t._write_version(dict(m2))

    # a LocalFS-handled reader sees the same committed table (both
    # impls speak the same on-disk format)
    t2 = LakeTable.load(spark, tmp_lake)
    assert t2.read().collect()[0]["content"] == "v2"

    # fenced replay still no-op through the Hadoop impl
    lin = t.merge(_batch(spark, [(1, "r", "p", "c", "py", "v1", "I")]), epoch_id=0)
    assert lin.get("skipped")

    # compaction and snapshot expiry walk/reap through Hadoop IO too
    t.merge(_batch(spark, [(3, "r", "p", "c", "py", "v3", "U")]), epoch_id=2)
    assert t.compact()["write_mode"] == "cow"
    removed = t.expire_snapshots(keep_last=1)
    assert removed > 0
    assert t.read().collect()[0]["content"] == "v3"


def test_hadoop_fs_compacting_merge_on_scheme_qualified_path(spark, tmp_lake):
    """A merge that reaches the delta depth bound compacts through
    Hadoop IO on a scheme-qualified table path, and counts the rows it
    wrote inside the write job: the merge reads no file on the driver,
    so a path Hadoop resolves (hdfs://, s3a://, a bare path against the
    cluster's defaultFS) needs no local copy."""
    from movex_cdc_spark.lake.fs import HadoopFS

    t = LakeTable.create(spark, "file://" + tmp_lake, REPO_FILES_SCHEMA, KEY_COLS,
                         n_buckets=4, fs=HadoopFS(spark))
    lins = [
        t.merge(_batch(spark, [(s, "r", "p", "c", "py", f"v{s}", "U")]), epoch_id=s)
        for s in range(MAX_DELTA_DEPTH + 1)
    ]
    assert [lin["write_mode"] for lin in lins] == ["delta"] * MAX_DELTA_DEPTH + ["cow"]
    assert [lin["rows_written"] for lin in lins] == [1] * (MAX_DELTA_DEPTH + 1)
    assert lins[-1]["max_delta_depth"] == 0
    assert t.read().collect()[0]["content"] == f"v{MAX_DELTA_DEPTH}"


def test_expire_skips_in_flight_staged_snapshot(spark, tmp_lake):
    """expire_snapshots must not reap a snapshot dir staged BEYOND the
    committed head: an optimistic concurrent writer's in-flight staging
    dir has no files in any listing — indistinguishable from a dead dir
    except by its version. Crash orphans become reapable only after the
    replay commits past their version."""
    import os
    import shutil

    t = _table(spark, tmp_lake, n_buckets=2)
    t.merge(_batch(spark, [(1, "r", "p", "c", "py", "v1", "I")]), epoch_id=0)
    cur = t.current_version()
    data_dir = os.path.join(tmp_lake, "data")
    committed = [d for d in os.listdir(data_dir) if d.startswith(f"snap-{cur}-")]
    # simulate another writer mid-staging at cur+1 by copying a real
    # snapshot dir (has parquet files, referenced by no listing)
    inflight = os.path.join(data_dir, f"snap-{cur + 1}-deadbeef")
    shutil.copytree(os.path.join(data_dir, committed[0]), inflight)
    t.expire_snapshots(keep_last=1)
    assert os.path.isdir(inflight), "in-flight staged snapshot was reaped"
    # once the head moves past it, an unreferenced dir at that version
    # is a crash orphan and gets reaped
    t.merge(_batch(spark, [(2, "r", "p", "c", "py", "v2", "U")]), epoch_id=1)
    assert t.current_version() == cur + 1
    t.merge(_batch(spark, [(3, "r", "p", "c", "py", "v3", "U")]), epoch_id=2)
    removed = t.expire_snapshots(keep_last=1)
    assert removed > 0 and not os.path.isdir(inflight)
    assert t.read().collect()[0]["content"] == "v3"


def test_create_is_crash_replayable(spark, tmp_path):
    """A crash ANYWHERE inside create() must leave a re-runnable path:
    (a) _meta dir made but v0 never committed, (b) v0 written but the
    _current pointer never swapped. Both previously wedged every retry
    (FileExistsError on the dir / the v0 commit) until manual cleanup.
    A LIVE store is still refused."""
    import json
    import os

    from movex_cdc_spark.lake.append_log import UnkeyedEventLog

    # (a) dir exists, no v0
    p1 = str(tmp_path / "t1")
    os.makedirs(os.path.join(p1, "_meta"))
    t = LakeTable.create(spark, p1, REPO_FILES_SCHEMA, KEY_COLS, n_buckets=2)
    assert t.current_version() == 0

    # (b) v0 written (even partially), pointer missing
    p2 = str(tmp_path / "t2")
    os.makedirs(os.path.join(p2, "_meta"))
    with open(os.path.join(p2, "_meta", "v0.json"), "w") as f:
        f.write('{"version": 0, "trunc')  # partial write from the crash
    t2 = LakeTable.create(spark, p2, REPO_FILES_SCHEMA, KEY_COLS, n_buckets=2)
    assert t2.meta()["n_buckets"] == 2  # fresh v0, not the partial one

    # live table refused
    with pytest.raises(FileExistsError, match="already exists"):
        LakeTable.create(spark, p1, REPO_FILES_SCHEMA, KEY_COLS, n_buckets=2)

    # same contract for the append log
    p3 = str(tmp_path / "log1")
    os.makedirs(os.path.join(p3, "_meta"))
    log = UnkeyedEventLog.create(spark, p3)
    assert log.meta()["version"] == 0
    with pytest.raises(FileExistsError, match="already exists"):
        UnkeyedEventLog.create(spark, p3)


def test_incremental_changes_classification(spark, tmp_lake):
    """changes(from, to): I/U/D classification, unchanged-key and
    tombstone->tombstone suppression, and metadata-level bucket diff
    (only churned buckets are read)."""
    t = _table(spark, tmp_lake, n_buckets=8)
    t.merge(_batch(spark, [
        (1, "r", "a", "c", "py", "a1", "I"),
        (2, "r", "b", "c", "py", "b1", "I"),
        (3, "r", "c", "c", "py", "c1", "I"),
        (4, "r", "d", "c", "py", None, "D"),   # tombstone from the start
    ]), epoch_id=0)
    v1 = t.current_version()
    t.merge(_batch(spark, [
        (5, "r", "b", "c", "py", "b2", "U"),   # U
        (6, "r", "c", "c", "py", None, "D"),   # D
        (7, "r", "e", "c", "py", "e1", "I"),   # I (new key)
        (8, "r", "d", "c", "py", None, "D"),   # dead->dead: suppressed
    ]), epoch_id=1)

    # the bucket diff is metadata-level: read_raw must be called with
    # ONLY the churned buckets (a/d's buckets untouched by epoch 1 stay
    # unread — the cost-proportional-to-churn property)
    from movex_cdc_spark.lake.table import bucket_expr

    seen_buckets = []
    real_read_raw = LakeTable.read_raw

    def spying_read_raw(self, version=None, buckets=None, meta=None):
        seen_buckets.append(sorted(buckets or []))
        return real_read_raw(self, version, buckets, meta)

    LakeTable.read_raw = spying_read_raw
    try:
        got = {r["path"]: r for r in t.changes(v1).collect()}
    finally:
        LakeTable.read_raw = real_read_raw
    churned = {
        r[0]
        for r in _batch(spark, [
            # every key epoch 1 WROTE — including d, whose tombstone
            # seq advanced (bucket rewritten) even though its change is
            # suppressed from the OUTPUT
            (5, "r", "b", "c", "py", "b2", "U"),
            (6, "r", "c", "c", "py", None, "D"),
            (7, "r", "e", "c", "py", "e1", "I"),
            (8, "r", "d", "c", "py", None, "D"),
        ]).select(bucket_expr(KEY_COLS, 8)).collect()
    }
    assert all(set(b) == churned for b in seen_buckets)
    assert set(got) == {"b", "c", "e"}  # 'a' unchanged, 'd' suppressed
    assert got["b"]["change_op"] == "U" and got["b"]["content"] == "b2"
    assert got["c"]["change_op"] == "D" and got["c"]["last_seq"] == 6
    assert got["e"]["change_op"] == "I" and got["e"]["content"] == "e1"

    # resurrect: D -> I across versions
    v2 = t.current_version()
    t.merge(_batch(spark, [(9, "r", "c", "c", "py", "c2", "I")]), epoch_id=2)
    got2 = {r["path"]: r for r in t.changes(v2).collect()}
    assert got2["c"]["change_op"] == "I" and got2["c"]["content"] == "c2"

    # full-range read still classifies vs the ORIGINAL version
    full = {r["path"]: r["change_op"] for r in t.changes(v1).collect()}
    assert full == {"b": "U", "c": "U", "e": "I"}  # c live->live overall

    # layout-change guard: a from-version with a different bucket count
    # must be refused (monkeypatched meta to simulate an old layout)
    real_meta = LakeTable.meta

    def fake_meta(self, version=None):
        m = dict(real_meta(self, version))
        if version == v1:
            m = dict(m)
            m["n_buckets"] = 4
        return m

    LakeTable.meta = fake_meta
    try:
        with pytest.raises(ValueError, match="unsupported"):
            t.changes(v1)
    finally:
        LakeTable.meta = real_meta

    # reversed range refused
    with pytest.raises(ValueError, match="reversed"):
        t.changes(t.current_version(), v1)

    # a range spanning an overwrite() is refused (bulk load != change set)
    t.overwrite(_batch(spark, [(1, "r", "a", "c", "py", "boot", "I")]).drop("seq", "op"))
    with pytest.raises(ValueError, match="overwrite"):
        t.changes(v1)


def test_hadoop_fs_conflict_classified_by_exception_class(spark):
    """ADVICE r5: the lost-commit race must be detected by the wrapped
    Java exception CLASS (org.apache.hadoop.fs.FileAlreadyExistsException),
    not message text — an unrelated error whose message merely contains
    'already exists' must NOT be swallowed as a commit conflict, and a
    differently-worded FileAlreadyExistsException must still map."""
    from movex_cdc_spark.lake.fs import HadoopFS

    class FakeJClass:
        def __init__(self, name):
            self._n = name

        def getName(self):
            return self._n

    class FakeJE:
        def __init__(self, name, cause=None):
            self._c = FakeJClass(name)
            self._cause = cause

        def getClass(self):
            return self._c

        def getCause(self):
            return self._cause

    class FakeErr(Exception):
        def __init__(self, je):
            super().__init__("oops: parent already exists somewhere")
            self.java_exception = je

    # message says 'already exists' but the class is unrelated -> NOT
    # a conflict (previously misclassified and silently retried)
    assert not HadoopFS._is_already_exists(FakeErr(FakeJE("java.io.IOException")))
    # the real conflict class maps regardless of message wording
    assert HadoopFS._is_already_exists(
        FakeErr(FakeJE("org.apache.hadoop.fs.FileAlreadyExistsException"))
    )
    # ... even when wrapped as a cause
    assert HadoopFS._is_already_exists(
        FakeErr(FakeJE(
            "java.lang.RuntimeException",
            cause=FakeJE("java.nio.file.FileAlreadyExistsException"),
        ))
    )
    # self-referential cause chains terminate
    loop = FakeJE("java.io.IOException")
    loop._cause = loop
    assert not HadoopFS._is_already_exists(FakeErr(loop))
    # a plain Python exception (no java_exception) is never a conflict
    assert not HadoopFS._is_already_exists(ValueError("already exists"))

    # end-to-end through the real Hadoop local FS: the second exclusive
    # create must surface as FileExistsError via the class check
    import tempfile

    h = HadoopFS(spark)
    d = tempfile.mkdtemp()
    p = "file://" + os.path.join(d, "lock.txt")
    h.create_exclusive_text(p, "one")
    with pytest.raises(FileExistsError):
        h.create_exclusive_text(p, "two")


def test_create_tolerates_concurrent_creator_race(spark, tmp_path):
    """ADVICE r5: two creators that both see no _current each enter the
    crash-recovery arm; the loser's removal of the other's staged v0
    can find it already gone (tolerated -> retry proceeds), and a retry
    that loses the v0 commit again surfaces FileExistsError instead of
    an opaque conflict. Concurrent create with differing schemas is
    documented undefined — first committed v0 wins."""
    from movex_cdc_spark.lake.append_log import UnkeyedEventLog
    from movex_cdc_spark.lake.fs import LocalFS

    class OtherRemovedFirst(LocalFS):
        """remove() finds the file already gone — the concurrent
        creator removed it a moment earlier."""

        def remove(self, path):
            if path.endswith("v0.json"):
                if os.path.exists(path):
                    os.remove(path)
                raise FileNotFoundError(path)
            super().remove(path)

    p = str(tmp_path / "t")
    os.makedirs(os.path.join(p, "_meta"))
    with open(os.path.join(p, "_meta", "v0.json"), "w") as f:
        f.write("{}")  # stale v0 from the crashed/concurrent create
    t = LakeTable.create(
        spark, p, REPO_FILES_SCHEMA, KEY_COLS, n_buckets=2, fs=OtherRemovedFirst()
    )
    assert t.current_version() == 0 and t.meta()["n_buckets"] == 2

    # same tolerance on the append log
    p_log = str(tmp_path / "log")
    os.makedirs(os.path.join(p_log, "_meta"))
    with open(os.path.join(p_log, "_meta", "v0.json"), "w") as f:
        f.write("{}")
    log = UnkeyedEventLog.create(spark, p_log, fs=OtherRemovedFirst())
    assert log.meta()["version"] == 0

    class OtherRecommitted(LocalFS):
        """remove() says gone, but the other creator re-committed v0
        before our retry — the second exclusive create must lose."""

        def remove(self, path):
            raise FileNotFoundError(path)

    p2 = str(tmp_path / "t2")
    os.makedirs(os.path.join(p2, "_meta"))
    with open(os.path.join(p2, "_meta", "v0.json"), "w") as f:
        f.write('{"version": 0}')
    with pytest.raises(FileExistsError, match="concurrent create"):
        LakeTable.create(
            spark, p2, REPO_FILES_SCHEMA, KEY_COLS, n_buckets=2, fs=OtherRecommitted()
        )


def test_expire_reaps_zero_parquet_orphan_dir(spark, tmp_lake):
    """ADVICE r5: a staged snapshot dir whose writer died before ANY
    part file landed (only _temporary/_SUCCESS remain) has no parquet
    to test for liveness — past the version horizon it must be reaped,
    not leaked forever. The in-flight guard still protects an empty
    staged dir AT/beyond the head version."""
    t = _table(spark, tmp_lake, n_buckets=4)
    for e in range(4):
        t.merge(_batch(spark, [(e, "r", f"p{e}", "c", "py", "v", "I")]), epoch_id=e)
    assert t.current_version() == 4

    dead = os.path.join(t.data_dir, "snap-1-deadbeef")
    os.makedirs(os.path.join(dead, "_temporary", "0"))
    open(os.path.join(dead, "_SUCCESS"), "w").close()
    in_flight = os.path.join(t.data_dir, "snap-5-aaaaaaaa")
    os.makedirs(in_flight)

    t.expire_snapshots(keep_last=2)
    assert not os.path.exists(dead)       # crash orphan reaped
    assert os.path.exists(in_flight)      # staged-beyond-head survives
    got = {r["path"] for r in t.read().collect()}
    assert got == {"p0", "p1", "p2", "p3"}


# ------------------------------------------------ merge semantics table
# Each case: the stored rows (key, commit, lang, content, last_seq,
# deleted) and one batch (seq, key, commit, lang, content, op), checked
# against a pure-Python LWW oracle. ``drop`` names batch columns the
# batch lacks (schema-evolution tolerant apply: they merge as NULL).
_SEM_CASES = {
    "equal_seq_stored_wins": (
        [("r1", "p1", "c", "py", "old", 5, False)],
        [(5, "r1", "p1", "c2", "py", "new", "U")],
        (),
    ),
    "null_source_seq": (
        [("r1", "p1", "c", "py", "old", 5, False)],
        [(None, "r1", "p1", "c2", "py", "new", "U"),
         (None, "r2", "p2", "c", "py", "ins", "I")],
        (),
    ),
    "null_stored_last_seq": (
        [("r1", "p1", "c", "py", "old", None, False),
         ("r2", "p2", "c", "py", "kept", None, False)],
        [(None, "r1", "p1", "c2", "py", "new", "U")],
        (),
    ),
    "tombstone_then_late_lower_insert": (
        [("r1", "p1", "c", "py", None, 10, True)],
        [(5, "r1", "p1", "c", "py", "zombie", "I")],
        (),
    ),
    "tombstone_then_higher_insert": (
        [("r1", "p1", "c", "py", None, 10, True)],
        [(12, "r1", "p1", "c", "py", "back", "I")],
        (),
    ),
    "several_rows_per_key": (
        [("r1", "p1", "c", "py", "old", 4, False)],
        [(3, "r1", "p1", "c", "py", "a", "U"),
         (7, "r1", "p1", "c", "py", "c", "U"),
         (5, "r1", "p1", "c", "py", "b", "U"),
         (1, "r2", "p2", "c", "py", "x", "I"),
         (2, "r2", "p2", "c", "py", None, "D")],
        (),
    ),
    "null_keys": (
        [(None, "p", "c", "py", "old", 1, False)],
        [(2, None, "p", "c", "py", "new", "U"),
         (3, None, None, "c", "py", "both", "I"),
         (4, None, None, "c", "py", "both2", "U")],
        (),
    ),
    "batch_lacks_payload_column": (
        [("r1", "p1", "c", "py", "old", 1, False),
         ("r2", "p2", "c", "go", "keep", 9, False)],
        [(2, "r1", "p1", "c2", None, "new", "U"),
         (3, "r2", "p2", "c2", None, "stale", "U")],
        ("lang",),
    ),
}

_STORED_SCHEMA = T.StructType(
    [T.StructField(c, T.StringType()) for c in ("repo", "path", "commit", "lang", "content")]
    + [T.StructField("last_seq", T.LongType()), T.StructField("deleted", T.BooleanType())]
)
_BATCH_SCHEMA = T.StructType(
    [T.StructField("seq", T.LongType())]
    + [T.StructField(c, T.StringType()) for c in ("repo", "path", "commit", "lang", "content", "op")]
)


def _lww_oracle(stored, batch):
    """Per key, the candidate with the greatest (seq, rank) wins, NULL
    seq ordering lowest: stored rows rank 1 (−1 with a NULL last_seq),
    batch rows rank 0. last_seq = max(coalesce(seq, -1)) over all of
    the key's candidates."""
    cands: dict[tuple, list] = {}
    for repo, path, commit, lang, content, seq, deleted in stored:
        rank = -1 if seq is None else 1
        cands.setdefault((repo, path), []).append(
            (seq, rank, (commit, lang, content, bool(deleted)))
        )
    for seq, repo, path, commit, lang, content, op in batch:
        cands.setdefault((repo, path), []).append(
            (seq, 0, (commit, lang, content, op == "D"))
        )
    out = {}
    for k, cs in cands.items():
        win = max(cs, key=lambda c: (c[0] is not None, c[0] or 0, c[1]))
        out[k] = win[2] + (max(-1 if c[0] is None else c[0] for c in cs),)
    return out


# how the batch lands: the default (a delta epoch, read before any
# compaction), a copy-on-write epoch, or a delta epoch read after a
# compaction folded it into the base
_SEM_MODES = {"": "delta", "-cow": "cow", "-compacted": "compacted"}


@pytest.mark.parametrize(
    "case,mode",
    [pytest.param(c, m, id=c + sfx) for c in sorted(_SEM_CASES) for sfx, m in _SEM_MODES.items()],
)
def test_merge_semantics_match_lww_oracle(spark, tmp_lake, cow_only, case, mode):
    stored, batch, drop = _SEM_CASES[case]
    # one bucket: every stored row shares the batch's touched bucket
    t = _table(spark, tmp_lake, n_buckets=1)
    t.overwrite(spark.createDataFrame(stored, _STORED_SCHEMA))
    df = spark.createDataFrame(batch, _BATCH_SCHEMA).drop(*drop)
    if mode == "cow":
        with cow_only():
            lin = t.merge(df, epoch_id=0)
    else:
        lin = t.merge(df, epoch_id=0)
    assert lin["write_mode"] == ("cow" if mode == "cow" else "delta")
    if mode == "compacted":
        assert t.compact()["write_mode"] == "cow"
    got = {
        (r["repo"], r["path"]): (r["commit"], r["lang"], r["content"], r["deleted"], r["last_seq"])
        for r in t.read(include_deleted=True).collect()
    }
    assert got == _lww_oracle(stored, batch)


@pytest.mark.parametrize("arms", [("delta", "delta"), ("cow", "delta"), ("delta", "cow"), ("cow", "cow")])
def test_equal_seq_first_applied_wins_in_every_mode(spark, tmp_lake, cow_only, arms):
    """Two different changes at the same seq: the first one applied
    wins, whichever arm wrote each, and reads before and after a
    compaction agree (the former merge-on-read table returned the later
    delta row until a compaction and the stored row after it)."""
    from contextlib import nullcontext

    t = _table(spark, tmp_lake, n_buckets=1)
    for epoch, (arm, content) in enumerate(zip(arms, ("first", "second"))):
        with cow_only() if arm == "cow" else nullcontext():
            lin = t.merge(_batch(spark, [(5, "r1", "p1", "c", "py", content, "U")]), epoch_id=epoch)
        assert lin["write_mode"] == arm
        assert [(r["content"], r["last_seq"]) for r in t.read().collect()] == [("first", 5)]
    t.compact()
    assert [(r["content"], r["last_seq"]) for r in t.read().collect()] == [("first", 5)]


def test_delta_file_spanning_two_buckets_with_one_compacted(spark, tmp_lake):
    """One delta file is named by two buckets' lists; compacting one of
    them leaves the other folding the same file. Reads of either bucket,
    of both, and at every version, still match the oracle."""
    t = _table(spark, tmp_lake, n_buckets=2)
    rows0 = [(1, f"r{i}", "p", "c", "py", f"a{i}", "I") for i in range(8)]
    rows1 = [(2, f"r{i}", "p", "c", "py", f"b{i}", "U") for i in range(0, 8, 2)]
    rows1 += [(0, "r1", "p", "c", "py", "stale", "U"), (3, "r3", "p", "c", "py", None, "D")]
    t.merge(_batch(spark, rows0), epoch_id=0)
    t.merge(_batch(spark, rows1), epoch_id=1)
    m = t.meta()
    (delta,) = set(m["buckets"]["0"]) & set(m["buckets"]["1"]) - {m["buckets"]["0"][0]}
    want = {f"r{i}": f"b{i}" if i % 2 == 0 else f"a{i}" for i in range(8) if i != 3}
    bucket_of = {r["repo"]: r["b"] for r in _batch(spark, rows0).select(
        "repo", bucket_expr(KEY_COLS, 2).alias("b")).collect()}
    assert set(bucket_of.values()) == {0, 1}

    def by_bucket(version=None):
        return {b: {r["repo"]: r["content"] for r in t.read(version, buckets=[b]).collect()}
                for b in (0, 1)}

    before = by_bucket()
    t.compact(buckets=[0])
    lists = t.meta()["buckets"]
    assert delta in lists["1"] and delta not in lists["0"]
    for got in (by_bucket(), before, by_bucket(t.current_version() - 1)):
        for b in (0, 1):
            assert got[b] == {k: v for k, v in want.items() if bucket_of[k] == b}
    assert {r["repo"]: r["content"] for r in t.read().collect()} == want
    # the half-compacted table keeps taking deltas
    t.merge(_batch(spark, [(9, "r1", "p", "c", "py", "z", "U")]), epoch_id=2)
    assert {r["repo"]: r["content"] for r in t.read().collect()} == {**want, "r1": "z"}
