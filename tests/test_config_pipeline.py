"""Config-driven capture on the streaming hot path (P1/P2/P3/§2.10),
mid-stream config change with schema evolution, and the unkeyed
key_handling='N' append path (S5)."""

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from movex_cdc_spark.config.table_config import (
    ColumnCfg,
    EngineConfig,
    ExpressionCfg,
    TableCfg,
    repo_files_config,
)
from movex_cdc_spark.datagen import (
    EXCLUDE_MARKER,
    GenParams,
    generate_events,
)
from movex_cdc_spark.lake.append_log import UnkeyedEventLog
from movex_cdc_spark.lake.table import LakeTable
from movex_cdc_spark.operators.apply import (
    KEY_COLS,
    REPO_FILES_SCHEMA,
    apply_batch,
    apply_batch_unkeyed,
    flag_dispositions,
)
from movex_cdc_spark.sources.events import read_events_batch, write_event_files
from movex_cdc_spark.streaming.pipeline import CdcStreamPipeline


def _valid_events(ev):
    """Pandas mirror of the config-driven filter chain: the repo_files
    config conditions exclude the marker on I/U only (a DELETE carrying
    it is still captured — there is no D condition)."""
    marked = ev["content"].fillna("").str.contains(EXCLUDE_MARKER, regex=False)
    keep = ~(marked & ev["op"].isin(["I", "U"]))
    keep &= ~(ev["content"].isna() & ev["op"].isin(["I", "U"]))
    keep &= ~ev["is_noop"]
    return ev[keep]


def _evolved_config():
    cfg = repo_files_config()
    t = cfg.tables["repo_files"]
    # flip a column flag (lang no longer captured on UPDATE) and add a
    # computed payload column — the §2.10 column_expressions analog
    t.columns = [
        ColumnCfg("repo"),
        ColumnCfg("path"),
        ColumnCfg("commit"),
        ColumnCfg("lang", log_update=False),
        ColumnCfg("content", log_delete=False),
    ]
    t.expressions = [
        ExpressionCfg(alias="content_len", sql="length(content)", operations=("I", "U"))
    ]
    return cfg


def test_config_capture_midstream_change(spark, tmp_path):
    p = GenParams(n_events=3000, seed=11)
    ev = generate_events(p)
    cut = ev["seq"].median()
    first, second = ev[ev["seq"] <= cut], ev[ev["seq"] > cut]
    t = LakeTable.create(spark, str(tmp_path / "lake"), REPO_FILES_SCHEMA, KEY_COLS, n_buckets=8)

    def pipe(config):
        return CdcStreamPipeline(
            spark,
            t,
            events_dir=str(tmp_path / "events"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            config=config,
            table_name="repo_files",
            max_files_per_trigger=2,
        )

    write_event_files(first, str(tmp_path / "events"), n_files=3)
    pipe(repo_files_config()).run_available_now()
    assert "content_len" not in [f.name for f in t.payload_schema().fields]

    # config changes mid-stream: new column flags + expression column.
    # The next batches evolve the table schema (ALTER-before-MERGE).
    write_event_files(second, str(tmp_path / "events"), n_files=3, prefix="late")
    pipe(_evolved_config()).run_available_now()
    assert "content_len" in [f.name for f in t.payload_schema().fields]

    # expected winner per key from the pandas filter-chain mirror
    valid = _valid_events(ev)
    winners = valid.sort_values("seq").groupby(["repo", "path"], as_index=False).last()
    winners = winners[winners["op"] != "D"]
    got = {
        (r["repo"], r["path"]): r
        for r in t.read().select("repo", "path", "lang", "content", "content_len", "last_seq").collect()
    }
    assert len(got) == len(winners)
    for w in winners.itertuples(index=False):
        row = got[(w.repo, w.path)]
        assert row["last_seq"] == w.seq
        if w.seq <= cut:  # applied under the old config
            assert row["content_len"] is None
            assert row["lang"] == w.lang
        else:  # applied under the evolved config
            assert row["content_len"] == len(w.content)
            if w.op == "U":
                assert row["lang"] is None  # not logged for UPDATE anymore
            else:
                assert row["lang"] == w.lang


def test_config_stream_matches_batch_apply(spark, tmp_path):
    """A keyed config table streams through the flagged one-probe path.
    With an expression over old_content (so the flagged cache must keep
    the old image) its final table equals the same events applied by the
    batch apply_batch path under the same config, and its metrics count
    valid events before LWW."""
    from movex_cdc_spark.streaming.lineage import MetricsTable

    cfg = repo_files_config()
    t_cfg = cfg.tables["repo_files"]
    t_cfg.expressions = [
        ExpressionCfg(alias="old_len", sql="length(old_content)", operations=("U",))
    ]
    ev = generate_events(GenParams(n_events=1500, seed=29))
    events = str(tmp_path / "events")
    write_event_files(ev, events, n_files=3)
    t_s = LakeTable.create(spark, str(tmp_path / "stream"), REPO_FILES_SCHEMA, KEY_COLS,
                           n_buckets=4)
    pipe = CdcStreamPipeline(
        spark, t_s, events_dir=events, checkpoint_dir=str(tmp_path / "ckpt"),
        dead_letter_dir=str(tmp_path / "dl"), metrics_dir=str(tmp_path / "metrics"),
        config=cfg, max_files_per_trigger=1,
    )
    epochs = pipe.run_available_now()
    assert len(epochs) == 3

    t_b = LakeTable.create(spark, str(tmp_path / "batch"), REPO_FILES_SCHEMA, KEY_COLS,
                           n_buckets=4)
    apply_batch(t_b, read_events_batch(spark, events), epoch_id=0, table_cfg=t_cfg)

    cols = ["repo", "path", "commit", "lang", "content", "content_sha", "old_len",
            "last_seq"]
    got = t_s.read().select(*cols).toPandas().sort_values(["repo", "path"])
    want = t_b.read().select(*cols).toPandas().sort_values(["repo", "path"])
    assert len(got) > 0 and got["old_len"].notna().any()
    assert got.reset_index(drop=True).equals(want.reset_index(drop=True))

    rows = MetricsTable(spark, str(tmp_path / "metrics")).read().collect()
    assert len(rows) == 3
    assert all(r["counter_scope"] == "valid_events_pre_dedup" for r in rows)
    assert sum(r["events"] for r in rows) == len(_valid_events(ev))


def test_per_op_condition_drops_only_matching_op(spark, tmp_path):
    p = GenParams(n_events=2000, seed=13, p_filtered=0.0, p_poison=0.0)
    ev = generate_events(p)
    cfg = repo_files_config()
    t_cfg = cfg.tables["repo_files"]
    # captures only python-file DELETEs; I/U unconditioned
    t_cfg.conditions = {"D": "lang = 'py'"}
    t = LakeTable.create(spark, str(tmp_path / "lake"), REPO_FILES_SCHEMA, KEY_COLS, n_buckets=4)
    write_event_files(ev, str(tmp_path / "events"), n_files=2)
    CdcStreamPipeline(
        spark,
        t,
        events_dir=str(tmp_path / "events"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        config=cfg,
    ).run_available_now()

    valid = ev[~ev["is_noop"]]
    valid = valid[(valid["op"] != "D") | (valid["lang"] == "py")]
    winners = valid.sort_values("seq").groupby(["repo", "path"], as_index=False).last()
    winners = winners[winners["op"] != "D"]
    assert t.read().count() == len(winners)


def test_unkeyed_append_path(spark, tmp_path):
    p = GenParams(n_events=2500, seed=17)
    ev = generate_events(p)
    cfg = repo_files_config()
    cfg.tables["repo_files"].key_handling = "N"
    log = UnkeyedEventLog.create(spark, str(tmp_path / "ulog"))
    write_event_files(ev, str(tmp_path / "events"), n_files=3)
    pipe = CdcStreamPipeline(
        spark,
        None,  # no merge table needed on the unkeyed path
        events_dir=str(tmp_path / "events"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        dead_letter_dir=str(tmp_path / "dl"),
        config=cfg,
        unkeyed_log=log,
        max_files_per_trigger=2,
    )
    epochs = pipe.run_available_now()
    assert all(not e.get("skipped") for e in epochs)

    expected = _valid_events(ev)
    out = log.read()
    # every valid event appended exactly once, NO LWW collapse
    assert out.count() == len(expected)
    assert set(r["seq"] for r in out.select("seq").collect()) == set(expected["seq"])
    # mode 'N' produces NULL message keys (relaxed ordering contract)
    assert out.filter(F.col("msg_key").isNotNull()).count() == 0
    # poison rows went to the dead letter, not the log
    from movex_cdc_spark.operators.apply import DeadLetterTable

    n_poison = int((ev["content"].isna() & ev["op"].isin(["I", "U"])).sum())
    dead = DeadLetterTable(spark, str(tmp_path / "dl")).read()
    assert dead.count() == n_poison
    # the one poison rule diagnoses every quarantined row; the slim
    # flagged cache keeps no old image for the dead letters
    assert {r["error_msg"] for r in dead.select("error_msg").collect()} == {
        "null content on insert/update"
    }
    assert dead.filter(F.col("old_content").isNotNull()).count() == 0

    # resume from the same checkpoint: nothing new, nothing duplicated
    pipe2 = CdcStreamPipeline(
        spark,
        None,
        events_dir=str(tmp_path / "events"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        config=cfg,
        unkeyed_log=log,
    )
    pipe2.run_available_now()
    assert log.read().count() == len(expected)


def test_unkeyed_epoch_fence(spark, tmp_path):
    ev = generate_events(GenParams(n_events=500, seed=19, p_poison=0.0, p_filtered=0.0))
    log = UnkeyedEventLog.create(spark, str(tmp_path / "ulog"))
    cfg = repo_files_config().tables["repo_files"]
    cfg.key_handling = "N"
    flagged = flag_dispositions(spark.createDataFrame(ev.drop(columns=["is_noop"])),
                                table_cfg=cfg)
    r1 = apply_batch_unkeyed(log, flagged, epoch_id=1, table_cfg=cfg)
    n1 = log.read().count()
    assert not r1.get("skipped") and n1 > 0
    # replay of the same epoch is fenced — append is exactly-once
    r2 = apply_batch_unkeyed(log, flagged, epoch_id=1, table_cfg=cfg)
    assert r2.get("skipped")
    assert log.read().count() == n1


def test_unkeyed_clean_epoch_commits_no_dead_letter_version(spark, tmp_path):
    """The unkeyed path appends (and commits) a dead-letter segment only
    for an epoch that has poison, as apply_batch_flagged does."""
    from movex_cdc_spark.operators.apply import DeadLetterTable

    cfg = repo_files_config().tables["repo_files"]
    cfg.key_handling = "N"
    log = UnkeyedEventLog.create(spark, str(tmp_path / "ulog"))
    dl = DeadLetterTable(spark, str(tmp_path / "dl"))
    v0 = dl.log.meta()["version"]
    clean = generate_events(GenParams(n_events=400, seed=29, p_poison=0.0))
    flagged = flag_dispositions(spark.createDataFrame(clean.drop(columns=["is_noop"])),
                                table_cfg=cfg)
    r = apply_batch_unkeyed(log, flagged, epoch_id=1, table_cfg=cfg, dead_letter=dl)
    assert not r.get("skipped") and r["n_poison"] == 0
    assert dl.log.meta()["version"] == v0 and dl.read() is None
    dirty = generate_events(GenParams(n_events=400, seed=31, p_poison=0.05))
    flagged = flag_dispositions(spark.createDataFrame(dirty.drop(columns=["is_noop"])),
                                table_cfg=cfg)
    r = apply_batch_unkeyed(log, flagged, epoch_id=2, table_cfg=cfg, dead_letter=dl)
    assert r["n_poison"] > 0 and dl.log.meta()["version"] > v0
    assert dl.read().count() == r["n_poison"]


def test_mixed_keyed_and_unkeyed_streams(spark, tmp_path):
    """Two tables fed from the same event dir: one keyed (merge), one
    unkeyed (append) — the reference runs keyed and keyless tables side
    by side in one worker pool (transfer_thread.rb:331-347)."""
    p = GenParams(n_events=1500, seed=23)
    ev = generate_events(p)
    write_event_files(ev, str(tmp_path / "events"), n_files=2)

    t = LakeTable.create(spark, str(tmp_path / "lake"), REPO_FILES_SCHEMA, KEY_COLS, n_buckets=4)
    CdcStreamPipeline(
        spark, t,
        events_dir=str(tmp_path / "events"),
        checkpoint_dir=str(tmp_path / "ckpt_k"),
        config=repo_files_config(),
    ).run_available_now()

    ucfg = repo_files_config()
    ucfg.tables["repo_files"].key_handling = "N"
    log = UnkeyedEventLog.create(spark, str(tmp_path / "ulog"))
    CdcStreamPipeline(
        spark, None,
        events_dir=str(tmp_path / "events"),
        checkpoint_dir=str(tmp_path / "ckpt_u"),
        config=ucfg,
        unkeyed_log=log,
    ).run_available_now()

    valid = _valid_events(ev)
    winners = valid.sort_values("seq").groupby(["repo", "path"], as_index=False).last()
    assert t.read().count() == len(winners[winners["op"] != "D"])
    assert log.read().count() == len(valid)


def test_unkeyed_log_segment_compaction(spark, tmp_path):
    """Small-files housekeeping on the append log: many per-epoch
    segments rewritten into few files, same rows, fences preserved."""
    ev = generate_events(GenParams(n_events=600, seed=47, p_poison=0.0, p_filtered=0.0))
    log = UnkeyedEventLog.create(spark, str(tmp_path / "ulog"))
    cfg = repo_files_config().tables["repo_files"]
    cfg.key_handling = "N"
    df = flag_dispositions(spark.createDataFrame(ev.drop(columns=["is_noop"])), table_cfg=cfg)
    for i in range(8):
        apply_batch_unkeyed(log, df.filter(F.pmod(F.col("seq"), F.lit(8)) == i),
                            epoch_id=i, table_cfg=cfg)
    n_before = log.read().count()
    assert len(log.meta()["files"]) >= 8
    r = log.compact_segments(target_files=2)
    assert r["files_after"] <= 2
    assert log.read().count() == n_before
    # fences survive compaction: replaying an old epoch is still a no-op
    rep = apply_batch_unkeyed(log, df.filter(F.pmod(F.col("seq"), F.lit(8)) == 3),
                              epoch_id=3, table_cfg=cfg)
    assert rep.get("skipped")
    assert log.read().count() == n_before


def test_unkeyed_log_compaction_retains_then_expires(spark, tmp_path):
    """Compaction swaps the listing but RETAINS old segment dirs for
    in-flight readers; expire_segments reaps them after the retention
    window (LakeTable.expire_snapshots analog)."""
    import os

    df = spark.range(100).selectExpr("id", "cast(id as string) AS v")
    log = UnkeyedEventLog.create(spark, str(tmp_path / "ulog"))
    for i in range(6):
        log.append(df.filter(F.pmod(F.col("id"), F.lit(6)) == i), epoch_id=i)
    old_dirs = {f.split(os.sep)[0] for f in log.meta()["files"]}
    # a reader that planned BEFORE the compaction (captures the old listing)
    stale_reader = log.read()
    log.compact_segments(target_files=1)
    for d in old_dirs:  # still on disk
        assert os.path.isdir(tmp_path / "ulog" / d), d
    assert stale_reader.count() == 100  # old plan still executes
    assert log.read().count() == 100
    # within retention: nothing reaped
    assert log.expire_segments(keep_last=5) == 0
    assert log.expire_segments(keep_last=0) == len(old_dirs)
    for d in old_dirs:
        assert not os.path.isdir(tmp_path / "ulog" / d), d
    assert log.read().count() == 100


def test_log_rewrite_keeps_rows_appended_after_its_read(spark, tmp_path):
    """``replace(df, m)`` replaces only the segments ``m`` lists: rows
    another handle appended after ``m`` stay listed, and that handle's
    epoch fence survives the rewrite."""
    import os

    path = str(tmp_path / "ulog")
    log = UnkeyedEventLog.create(spark, path)
    log.append(spark.range(3).selectExpr("id AS a"), stream_id="s", epoch_id=0)
    m = log.meta()
    df = log.read(m).selectExpr("a + 100 AS a")
    UnkeyedEventLog.load(spark, path).append(
        spark.range(3, 5).selectExpr("id AS a"), stream_id="rival", epoch_id=0
    )
    r = log.replace(df, m)
    assert sorted(x["a"] for x in log.read().collect()) == [3, 4, 100, 101, 102]
    cur = log.meta()
    assert r["version"] == cur["version"] == m["version"] + 2
    assert cur["epochs"] == {"s": 0, "rival": 0}
    assert [x["dir"] for x in cur["retired"]] == [m["files"][0].split(os.sep, 1)[0]]


def test_compaction_commits_over_an_append_during_its_write(spark, tmp_path, monkeypatch):
    """An append that commits while ``compact_segments`` writes does not
    fail the compaction: it rebases, and the appended row stays."""
    path = str(tmp_path / "ulog")
    log = UnkeyedEventLog.create(spark, path)
    for e in range(3):  # one file per segment
        log.append(spark.range(e * 2, e * 2 + 2, numPartitions=1).selectExpr("id AS a"), epoch_id=e)
    real_stage = log._stage

    def stage_then_append(*args, **kw):
        out = real_stage(*args, **kw)
        UnkeyedEventLog.load(spark, path).append(
            spark.range(99, 100, numPartitions=1).selectExpr("id AS a"), stream_id="rival", epoch_id=0
        )
        return out

    monkeypatch.setattr(log, "_stage", stage_then_append)
    r = log.compact_segments(target_files=1)
    monkeypatch.undo()
    assert r["files_before"] == 3 and r["files_after"] == 2
    assert sorted(x["a"] for x in log.read().collect()) == [0, 1, 2, 3, 4, 5, 99]


def test_rival_rewrite_of_the_same_segments_conflicts(spark, tmp_path):
    """Two rewrites of the same snapshot: the second finds its segments
    already retired, raises ``CommitConflict``, drops its staged segment
    and commits nothing."""
    import os

    from movex_cdc_spark.lake.versioned import CommitConflict

    path = str(tmp_path / "ulog")
    log = UnkeyedEventLog.create(spark, path)
    for e in range(2):
        log.append(spark.range(e * 3, e * 3 + 3).selectExpr("id AS a"), epoch_id=e)
    m = log.meta()
    rival = UnkeyedEventLog.load(spark, path)
    rival.replace(rival.read(m).filter("a < 4"), m)
    won = log.meta()
    with pytest.raises(CommitConflict):
        log.replace(log.read(m).filter("a > 1"), m)
    assert log.meta() == won
    on_disk = {d for d in os.listdir(path) if d.startswith("seg-")}
    listed = {f.split(os.sep, 1)[0] for f in won["files"]}
    assert on_disk == listed | {x["dir"] for x in won["retired"]}
    assert sorted(x["a"] for x in log.read().collect()) == [0, 1, 2, 3]


def test_unkeyed_log_schema_union_and_widen(spark, tmp_path):
    """append() UNIONS schemas add-only with primitive widening — a
    narrowing config swap must not drop columns from older segments,
    and an incompatible type change must raise."""
    import pytest

    log = UnkeyedEventLog.create(spark, str(tmp_path / "ulog"))
    log.append(spark.range(3).selectExpr("cast(id as int) AS a", "id AS k"), epoch_id=0)
    # column add + widen a: int -> long
    log.append(spark.range(3).selectExpr("id AS a", "id AS k", "'x' AS b"), epoch_id=1)
    # NARROWING swap: b disappears, a back to int — older segments keep b
    log.append(spark.range(3).selectExpr("cast(id as int) AS a", "id AS k"), epoch_id=2)
    got = log.read()
    assert [f.name for f in got.schema.fields] == ["a", "k", "b"]
    assert dict((f.name, f.dataType.typeName()) for f in got.schema.fields)["a"] == "long"
    assert got.count() == 9
    assert got.filter("b IS NOT NULL").count() == 3
    with pytest.raises(ValueError, match="incompatible"):
        log.append(spark.range(3).selectExpr("cast(id as string) AS a", "id AS k"),
                   epoch_id=3)


def test_dead_letter_append_is_epoch_fenced(spark, tmp_path):
    """A replayed foreachBatch epoch must not duplicate quarantine rows
    (the dead-letter append runs BEFORE the merge commit, so replays of
    the same epoch are the NORMAL crash-recovery path)."""
    from movex_cdc_spark.operators.apply import DeadLetterTable

    dl = DeadLetterTable(spark, str(tmp_path / "dl"))
    poison = spark.range(5).selectExpr(
        "id AS seq", "'r' AS repo", "'p' AS path",
        "cast(null as string) AS content", "'U' AS op", "'no content' AS error_msg",
    )
    assert dl.append(poison, stream_id="s", epoch_id=7) == 5
    # crash replay of epoch 7: metadata no-op, zero new rows
    assert dl.append(poison, stream_id="s", epoch_id=7) == 0
    assert dl.read().count() == 5
    assert dl.append(poison, stream_id="s", epoch_id=8) == 5
    assert dl.read().count() == 10


def test_unkeyed_log_crash_between_write_and_commit_recovers(spark, tmp_path):
    """The ADVICE-medium crash window: data files written, metadata
    commit never happened. The orphan segment dir must never be listed,
    and the REPLAYED epoch must succeed (uuid segment names make the
    rewrite collision-free) with exactly-once content."""
    import os

    log = UnkeyedEventLog.create(spark, str(tmp_path / "ulog"))
    df = spark.range(10).selectExpr("id", "cast(id as string) AS v")
    # simulate the crashed attempt: a segment dir for the NEXT version
    # exists on disk but was never committed
    orphan = str(tmp_path / "ulog" / "seg-1-deadbeef")
    df.write.parquet(orphan)
    # replay of the same epoch: must not collide with the orphan
    r = log.append(df, stream_id="s", epoch_id=0)
    assert not r.get("skipped") and r["version"] == 1
    assert log.read().count() == 10  # orphan rows are NOT double-counted
    assert os.path.isdir(orphan)  # orphan simply stays unlisted
    listed_dirs = {f.split(os.sep)[0] for f in log.meta()["files"]}
    assert "seg-1-deadbeef" not in listed_dirs


def test_expire_segments_reaps_fenced_orphans(spark, tmp_path):
    """Regression: a fenced-out concurrent appender (its epoch won by a
    rival) leaves its uuid-named segment dir on disk, never listed —
    under concurrent dispatch that's normal operation, and the dirs
    leaked forever. expire_segments must reap them, but only TWO-PHASE
    (observe, then reap after keep_last more versions): a dir unlisted
    once may be an in-flight append that hasn't committed yet."""
    import os

    log = UnkeyedEventLog.create(spark, str(tmp_path / "log"))
    df = spark.range(5).selectExpr("id as a")
    log.append(df, stream_id="s", epoch_id=0)
    # the fenced-out loser: segment written, metadata commit never won
    orphan_rel, _ = log._stage(df.write, "seg", log.meta()["version"] + 1)
    orphan_dir = os.path.join(str(tmp_path / "log"), orphan_rel)
    assert os.path.isdir(orphan_dir)
    # phase 1: observed, NOT reaped (could be an in-flight append)
    assert log.expire_segments(keep_last=1) == 0
    assert os.path.isdir(orphan_dir)
    # the log advances past the retention horizon
    log.append(df, stream_id="s", epoch_id=1)
    log.append(df, stream_id="s", epoch_id=2)
    # ADVICE r6 (medium): version distance alone is NOT writer
    # liveness — concurrent dispatch can advance the version past
    # keep_last while a large segment is still being written. With the
    # default wall-clock horizon the (young) orphan must SURVIVE even
    # though it cleared the two-phase version window.
    assert log.expire_segments(keep_last=1) == 0
    assert os.path.isdir(orphan_dir)
    # phase 2: unlisted across the version window AND older than the
    # age horizon -> reaped
    assert log.expire_segments(keep_last=1, orphan_min_age_s=0.0) == 1
    assert not os.path.isdir(orphan_dir)
    # committed data untouched
    assert log.read().count() == 15


def test_failed_segment_write_leaves_no_dir(spark, tmp_path):
    """A segment write that fails inside its Spark job commits nothing
    and drops its staged ``seg-`` dir; the next append commits normally."""
    import os

    log = UnkeyedEventLog.create(spark, str(tmp_path / "ulog"))
    bad = spark.range(4).select(
        F.when(F.col("id") == 2, F.raise_error(F.lit("injected write failure")))
        .otherwise(F.col("id")).alias("a")
    )
    with pytest.raises(Exception, match="injected write failure"):
        log.append(bad, stream_id="s", epoch_id=0)
    assert log.current_version() == 0
    assert not [d for d in os.listdir(tmp_path / "ulog") if d.startswith("seg-")]
    log.append(spark.range(4).selectExpr("id AS a"), stream_id="s", epoch_id=0)
    assert log.current_version() == 1 and log.read().count() == 4


def _orphan_segments(log) -> list[str]:
    import os

    listed = {f.split(os.sep, 1)[0] for f in log.meta()["files"]}
    return sorted(d for d in os.listdir(log.path) if d.startswith("seg-") and d not in listed)


def test_all_null_column_first_then_typed_stays_readable(spark, tmp_path):
    """A fresh log whose first batch has an all-null column leaves it out
    of the segment and the schema (committing ``void`` would refuse every
    later typed batch); a later typed batch adds it, and both read back."""
    log = UnkeyedEventLog.create(spark, str(tmp_path / "ulog"))
    log.append(spark.range(2).select("id", F.lit(None).alias("c")), stream_id="s", epoch_id=0)
    log.append(spark.range(2, 4).select("id", F.lit("x").alias("c")), stream_id="s", epoch_id=1)
    got = sorted((r["id"], r["c"]) for r in log.read().collect())
    assert got == [(0, None), (1, None), (2, "x"), (3, "x")]
    assert _orphan_segments(log) == []


def test_typed_column_then_all_null_stays_readable(spark, tmp_path):
    """An all-null batch column is written with the log's committed type:
    Spark writes a ``void`` column as physical BOOLEAN, which a read with
    the committed ``string`` schema rejects. A batch with an incompatible
    type is refused before its segment is staged."""
    log = UnkeyedEventLog.create(spark, str(tmp_path / "ulog"))
    log.append(spark.range(2).select("id", F.lit("x").alias("c")), stream_id="s", epoch_id=0)
    log.append(spark.range(2, 4).select("id", F.lit(None).alias("c")), stream_id="s", epoch_id=1)
    got = sorted((r["id"], r["c"]) for r in log.read().collect())
    assert got == [(0, "x"), (1, "x"), (2, None), (3, None)]
    with pytest.raises(ValueError, match="incompatible type change"):
        log.append(spark.range(1).select("id", F.lit(1.5).alias("c")), stream_id="s", epoch_id=2)
    assert log.current_version() == 2
    assert _orphan_segments(log) == []


def test_append_rebases_a_stolen_commit_onto_its_own_segment(spark, tmp_path, monkeypatch):
    """An append that loses its version to a rival rebases: the commit
    it retries lists the rival's segment and its own, each once, and
    reuses the segment it already wrote (no second staging)."""
    import os

    path = str(tmp_path / "log")
    log = UnkeyedEventLog.create(spark, path)
    real = UnkeyedEventLog._write_version
    rival: dict = {}

    def stealing_write(self, meta):
        if not rival:
            # the "other writer" stages its own segment and commits it first
            _, rival["files"] = self._stage(spark.range(2).selectExpr("id AS a").write, "seg", 1)
            real(self, self._next(self.meta(), "rival", 0, files=rival["files"],
                                  schema=T.StructType([T.StructField("a", T.LongType())]).jsonValue()))
        return real(self, meta)

    monkeypatch.setattr(UnkeyedEventLog, "_write_version", stealing_write)
    lin = log.append(spark.range(10, 13).selectExpr("id AS a"), stream_id="s", epoch_id=0)
    monkeypatch.undo()
    assert lin["version"] == 2 and rival["files"]
    files = log.meta()["files"]
    assert files[: len(rival["files"])] == rival["files"]
    assert len(set(files)) == len(files) == len(rival["files"]) + lin["files_added"]
    seg_dirs = {f.split(os.sep, 1)[0] for f in files}
    assert seg_dirs == {d for d in os.listdir(path) if d.startswith("seg-")}
    assert len(seg_dirs) == 2
    assert log.meta()["epochs"] == {"rival": 0, "s": 0}
    assert sorted(r["a"] for r in log.read().collect()) == [0, 1, 10, 11, 12]


def test_expire_bookkeeping_rebases_onto_a_rival_observation(spark, tmp_path, monkeypatch):
    """expire_segments' bookkeeping commit, stolen by a rival expire that
    observed the same orphan earlier: the rebased commit keeps the
    EARLIEST observation and still drops the dirs it reaped."""
    import os

    path = str(tmp_path / "log")
    log = UnkeyedEventLog.create(spark, path)
    df = spark.range(3).selectExpr("id AS a")
    for e in range(2):
        log.append(df, stream_id="s", epoch_id=e)
    log.compact_segments(target_files=1)  # v3 retires both segments
    log.append(df, stream_id="s", epoch_id=2)  # v4
    retired = [r["dir"] for r in log.meta()["retired"]]
    orphan, _ = log._stage(df.write, "seg", 99)  # never committed
    real = UnkeyedEventLog._write_version
    stolen: dict = {}

    def stealing_write(self, meta):
        if not stolen:
            # a rival expire that saw the orphan back at version 1, and
            # did not reap the retired dirs, commits first
            stolen["v"] = meta["version"]
            real(self, self._next(self.meta(), orphans_seen={orphan: 1}))
        return real(self, meta)

    monkeypatch.setattr(UnkeyedEventLog, "_write_version", stealing_write)
    removed = log.expire_segments(keep_last=1)
    monkeypatch.undo()
    assert removed == len(retired) == 2
    assert not any(os.path.isdir(os.path.join(path, d)) for d in retired)
    m = log.meta()
    assert m["version"] == stolen["v"] + 1
    assert m["orphans_seen"] == {orphan: 1}
    assert m["retired"] == []
    assert os.path.isdir(os.path.join(path, orphan))
    assert log.read().count() == 9
