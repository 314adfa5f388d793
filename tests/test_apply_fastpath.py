"""Focused tests for the keyed apply tail both keyed flows share
(``apply_batch_flagged``, the streaming flow, and ``apply_batch``, the
batch flow):

  * ONE probe job carries bucket set + counters + poison count;
  * the dead-letter append is SKIPPED when the epoch has no poison
    (no empty segment write, no metadata commit), in both flows, and
    still lands exactly-once when poison exists;
  * LakeTable.merge(probe=...) (caller-supplied probe) produces the
    identical final state as merge's own probe, and the
    written-outside-touched guard still fails loudly on a lying probe;
  * a poison epoch that crashes in the dead-letter append or in the
    table commit replays to one apply and one quarantine, in both
    flows, and so does one whose shared store commit fails on the
    unkeyed path or on the batch flow's dead-letter commit, and one
    whose envelope-reject or unkeyed dead-letter append fails at its
    sink's barrier;
  * one epoch's plan building makes the same number of py4j round trips
    at 8 and 64 buckets, within a budget, and an epoch the optimizer
    can prove empty returns instead of blocking on its observation;
  * a one-table stream epoch runs 2 Spark jobs, 3 with poison, and
    persists one frame.
"""

import os
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F

from movex_cdc_spark.config.table_config import ColumnCfg, TableCfg, repo_files_config
from movex_cdc_spark.datagen import GenParams, generate_events
from movex_cdc_spark.lake.append_log import UnkeyedEventLog
from movex_cdc_spark.lake.table import MAX_DELTA_DEPTH, LakeTable, bucket_expr
from movex_cdc_spark.operators.apply import (
    KEY_COLS,
    REPO_FILES_SCHEMA,
    DeadLetterTable,
    apply_batch,
    apply_batch_flagged,
    apply_batch_unkeyed,
    flag_dispositions,
)
from movex_cdc_spark.sources.events import EVENTS_SCHEMA
from movex_cdc_spark.streaming.pipeline import CdcStreamPipeline
from movex_cdc_spark.streaming.sink import EnvelopeSink


def _events(spark, rows):
    cols = ["seq", "repo", "path", "commit", "lang", "content", "old_content", "op", "ts", "txid"]
    pdf = pd.DataFrame(rows, columns=cols)
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    return spark.createDataFrame(pdf)


def _mk(spark, tmp_path, name):
    return LakeTable.create(
        spark, str(tmp_path / name), REPO_FILES_SCHEMA, KEY_COLS, n_buckets=8
    )


TS = "2024-01-01"


def test_clean_epoch_skips_dead_letter_write(spark, tmp_path):
    t = _mk(spark, tmp_path, "lake")
    dl = DeadLetterTable(spark, str(tmp_path / "dl"))
    v0 = t.current_version()
    dl_v0 = int(dl.log.meta()["version"])
    clean = flag_dispositions(
        _events(spark, [(1, "r1", "p1", "c1", "py", "x", None, "I", TS, 1),
                        (2, "r2", "p2", "c2", "py", "y", None, "I", TS, 1)])
    )
    lin = apply_batch_flagged(t, clean, epoch_id=0, stream_id="s", dead_letter=dl)
    assert not lin.get("skipped")
    assert lin["n_poison"] == 0
    # no poison -> the dead-letter log must not have committed anything
    assert int(dl.log.meta()["version"]) == dl_v0
    assert t.current_version() > v0
    assert t.read().count() == 2
    # its replay is fenced, and commits no (empty) dead-letter segment
    assert apply_batch_flagged(t, clean, epoch_id=0, stream_id="s", dead_letter=dl)["skipped"]
    assert int(dl.log.meta()["version"]) == dl_v0


def test_clean_batch_flow_skips_dead_letter_write(spark, tmp_path):
    """The batch flow (apply_batch) appends dead letters only on poison,
    like the streaming flow: a clean batch and its fenced replay commit
    nothing to the dead-letter log."""
    t = _mk(spark, tmp_path, "lake")
    dl = DeadLetterTable(spark, str(tmp_path / "dl"))
    v0 = t.current_version()
    dl_v0 = int(dl.log.meta()["version"])
    clean = _events(spark, [(1, "r1", "p1", "c1", "py", "x", None, "I", TS, 1),
                            (2, "r2", "p2", "c2", "py", "y", None, "I", TS, 1)])
    lin = apply_batch(t, clean, epoch_id=0, stream_id="s", dead_letter=dl)
    assert not lin.get("skipped")
    assert lin["n_poison"] == 0
    assert int(dl.log.meta()["version"]) == dl_v0
    assert t.current_version() > v0
    assert t.read().count() == 2
    assert apply_batch(t, clean, epoch_id=0, stream_id="s", dead_letter=dl)["skipped"]
    assert int(dl.log.meta()["version"]) == dl_v0


def test_poison_epoch_quarantines_exactly_once(spark, tmp_path):
    t = _mk(spark, tmp_path, "lake")
    dl = DeadLetterTable(spark, str(tmp_path / "dl"))
    mixed = flag_dispositions(
        _events(spark, [(1, "r1", "p1", "c1", "py", "x", None, "I", TS, 1),
                        (2, "r2", "p2", "c2", "py", None, None, "I", TS, 1),  # poison
                        (3, "r3", "p3", "c3", "py", "z", None, "QQ", TS, 1)])  # poison
    )
    lin = apply_batch_flagged(t, mixed, epoch_id=0, stream_id="s", dead_letter=dl)
    assert lin["n_poison"] == 2
    assert dl.read().count() == 2
    assert t.read().count() == 1
    # replayed epoch: table fenced, dead letter fenced -> both no-ops
    lin2 = apply_batch_flagged(t, mixed, epoch_id=0, stream_id="s", dead_letter=dl)
    assert lin2.get("skipped")
    assert dl.read().count() == 2
    assert t.read().count() == 1


def test_probe_path_matches_generic_merge(spark, tmp_path):
    """Same batch through merge(probe=...) and merge's own probe must
    land the identical state."""
    import pandas as _pd

    batch_pdf = _pd.DataFrame(
        [("r1", "p1", "c9", "py", "new", 10, "U"),
         ("r9", "p9", "c1", "py", "ins", 11, "I")],
        columns=["repo", "path", "commit", "lang", "content", "seq", "op"],
    )
    base_pdf = _pd.DataFrame(
        [("r1", "p1", "c1", "py", "old", None),
         ("r2", "p2", "c2", "py", "keep", None)],
        columns=["repo", "path", "commit", "lang", "content", "content_sha"],
    )
    states = {}
    for mode in ("probe", "generic"):
        t = _mk(spark, tmp_path, f"lake-{mode}")
        t.overwrite(spark.createDataFrame(base_pdf))
        batch = spark.createDataFrame(batch_pdf).withColumn(
            "content_sha", F.sha2("content", 256)
        )
        if mode == "probe":
            m = t.meta()
            rows = (
                batch.select(bucket_expr(KEY_COLS, m["n_buckets"]).alias("b"))
                .distinct().collect()
            )
            t.merge(batch, epoch_id=0, probe=sorted(r["b"] for r in rows))
        else:
            t.merge(batch, epoch_id=0)
        states[mode] = {
            (r["repo"], r["path"]): (r["commit"], r["content"], r["last_seq"])
            for r in t.read().collect()
        }
    assert states["probe"] == states["generic"]
    assert ("r9", "p9") in states["probe"] and states["probe"][("r1", "p1")][0] == "c9"


def test_lying_probe_fails_loud(spark, tmp_path):
    t = _mk(spark, tmp_path, "lake")
    batch = spark.createDataFrame(
        pd.DataFrame([("r1", "p1", "c1", "py", "x", 1, "I")],
                     columns=["repo", "path", "commit", "lang", "content", "seq", "op"])
    ).withColumn("content_sha", F.sha2("content", 256))
    real_bucket = batch.select(
        bucket_expr(KEY_COLS, 8).alias("b")
    ).first()["b"]
    wrong = [(real_bucket + 1) % 8]
    with pytest.raises(RuntimeError, match="outside the probed"):
        t.merge(batch, epoch_id=0, probe=wrong)


def _poison_rows(spark):
    return _events(spark, [(1, "r1", "p1", "c1", "py", "x", None, "I", TS, 1),
                           (2, "r2", "p2", "c2", "py", None, None, "I", TS, 1)])  # poison


def _poison_epoch(spark):
    return flag_dispositions(_poison_rows(spark))


def test_dead_letter_thread_inherits_local_properties(spark, tmp_path, monkeypatch):
    """The overlapped dead-letter append runs on a pool thread; its jobs
    must carry the calling thread's Spark local properties (the
    streaming batch's job group), or query.stop() cannot cancel them."""
    t = _mk(spark, tmp_path, "lake")
    dl = DeadLetterTable(spark, str(tmp_path / "dl"))
    seen = []
    real = DeadLetterTable.append

    def spy(self, *a, **kw):
        seen.append(spark.sparkContext.getLocalProperty("movex.test.group"))
        return real(self, *a, **kw)

    monkeypatch.setattr(DeadLetterTable, "append", spy)
    sc = spark.sparkContext
    sc.setLocalProperty("movex.test.group", "epoch-7")
    try:
        lin = apply_batch_flagged(t, _poison_epoch(spark), epoch_id=0, stream_id="s",
                                  dead_letter=dl)
    finally:
        sc.setLocalProperty("movex.test.group", None)
    assert lin["n_poison"] == 1
    assert seen == ["epoch-7"]


def test_dl_append_s_times_the_append_not_the_commit(spark, tmp_path, monkeypatch):
    """dl_append_s is the append's own wall: a slow table commit (after
    the pre_commit barrier) must not leak into it."""
    t = _mk(spark, tmp_path, "lake")
    dl = DeadLetterTable(spark, str(tmp_path / "dl"))
    flagged = _poison_epoch(spark)
    real_write = LakeTable._write_version

    def slow_write(self, meta):
        time.sleep(1.0)
        return real_write(self, meta)

    monkeypatch.setattr(LakeTable, "_write_version", slow_write)
    lin = apply_batch_flagged(t, flagged, epoch_id=0, stream_id="s", dead_letter=dl)
    assert lin["n_poison"] == 1
    assert lin["merge_latency_s"] > 1.0
    assert lin["timings"]["dl_append_s"] < 1.0


def _snap_dirs(t):
    data = os.path.join(t.path, "data")
    return sorted(d for d in os.listdir(data) if d.startswith("snap-")) if os.path.isdir(data) else []


@pytest.mark.parametrize("crash_at,flow", [
    pytest.param("dead_letter_append", "flagged", id="dead_letter_append"),
    pytest.param("table_commit", "flagged", id="table_commit"),
    pytest.param("dead_letter_append", "batch", id="batch-dead_letter_append"),
    pytest.param("table_commit", "batch", id="batch-table_commit"),
])
def test_poison_epoch_crash_windows_replay_exactly_once(spark, tmp_path, monkeypatch, crash_at,
                                                       flow):
    """A poison epoch, through the streaming (flagged) or the batch
    flow, crashes (a) in the dead-letter append — the ``pre_commit``
    barrier aborts the staged snapshot — or (b) in the table's metadata
    commit, after the dead letters committed. The replay applies the
    epoch once and quarantines each poison row once."""
    t = _mk(spark, tmp_path, "lake")
    dl = DeadLetterTable(spark, str(tmp_path / "dl"))
    v0, staged0 = t.current_version(), _snap_dirs(t)
    if flow == "flagged":
        flagged = _poison_epoch(spark)

        def run():
            return apply_batch_flagged(t, flagged, epoch_id=0, stream_id="s", dead_letter=dl)
    else:
        events = _poison_rows(spark)

        def run():
            return apply_batch(t, events, epoch_id=0, stream_id="s", dead_letter=dl)

    def crash(*_a, **_k):
        raise RuntimeError("injected crash")

    owner = {"dead_letter_append": (DeadLetterTable, "append"),
             "table_commit": (LakeTable, "_write_version")}[crash_at]
    with monkeypatch.context() as mp:
        mp.setattr(*owner, crash)
        with pytest.raises(RuntimeError, match="injected crash"):
            run()
    assert t.current_version() == v0
    if crash_at == "dead_letter_append":
        assert _snap_dirs(t) == staged0
        assert dl.read() is None
    else:
        assert dl.read().count() == 1  # committed before the table

    lin = run()
    assert not lin.get("skipped")
    assert [(r["repo"], r["path"]) for r in t.read().collect()] == [("r1", "p1")]
    assert [r["seq"] for r in dl.read().collect()] == [2]
    # a second replay is fenced on both sides
    assert run()["skipped"]
    assert dl.read().count() == 1


@pytest.mark.parametrize("crash_at", ["unkeyed_log_commit", "batch_dead_letter_commit"])
def test_shared_commit_crash_replays_exactly_once(spark, tmp_path, crash_at):
    """The store commit both lake stores share fails (a) in the unkeyed
    log's commit of a poison epoch, after its dead letters committed, or
    (b) in the batch flow's dead-letter commit, before the table's. The
    replay lands the valid row and the poison row once each, and a
    second replay is fenced on both sides."""
    dl = DeadLetterTable(spark, str(tmp_path / "dl"))
    if crash_at == "unkeyed_log_commit":
        sink = victim = UnkeyedEventLog.create(spark, str(tmp_path / "ulog"))
        flagged = _poison_epoch(spark)

        def run():
            return apply_batch_unkeyed(sink, flagged, epoch_id=0, stream_id="s", dead_letter=dl)
    else:
        sink, victim = _mk(spark, tmp_path, "lake"), dl.log
        events = _poison_rows(spark)

        def run():
            return apply_batch(sink, events, epoch_id=0, stream_id="s", dead_letter=dl)
    v0 = sink.current_version()

    def crash(_meta):
        raise RuntimeError("injected crash")

    victim._write_version = crash
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            run()
    finally:
        del victim._write_version
    assert sink.current_version() == v0
    n_dl = 0 if dl.read() is None else dl.read().count()
    assert n_dl == (1 if crash_at == "unkeyed_log_commit" else 0)

    assert not run().get("skipped")
    assert run().get("skipped")
    assert [(r["repo"], r["path"]) for r in sink.read().collect()] == [("r1", "p1")]
    assert [r["seq"] for r in dl.read().collect()] == [2]


def _seg_dirs(path):
    return sorted(d for d in os.listdir(path) if d.startswith("seg-"))


@pytest.mark.parametrize("flow", ["envelope_reject_append", "unkeyed_dead_letter_append"])
def test_sink_barrier_crash_replays_exactly_once(spark, tmp_path, flow):
    """The dead letters an epoch owes a sink commit at that sink's
    ``pre_commit`` barrier: an envelope sink's rejects (the envelope
    quarantine) and an unkeyed log's poison rows. The append fails
    there: the staged segment is dropped and the sink stays at its
    version. The replay quarantines each reject or poison row once and
    delivers each valid row once, and a second replay is fenced."""
    dl = DeadLetterTable(spark, str(tmp_path / "dl"))
    if flow == "envelope_reject_append":
        t = _mk(spark, tmp_path, "lake")
        envelope = EnvelopeSink(spark, str(tmp_path / "sink"), max_bytes=1000)
        pipe = CdcStreamPipeline(spark, t, str(tmp_path / "ev"), str(tmp_path / "ck"),
                                 dead_letter_dir=dl.path, envelope_sink=envelope)
        events = _events(spark, [(1, "r1", "p1", "c1", "py", "x", None, "I", TS, 1),
                                 (2, "r2", "p2", "c2", "py", "y" * 2000, None, "I", TS, 1),
                                 (3, "r3", "p3", "c3", "py", None, None, "I", TS, 1)])
        log, victim, key = envelope.log, pipe._side_dead_letter("_envelope"), "id"

        def run():
            pipe._apply(events, 0)
            return pipe.epochs[-1]
    else:
        log = UnkeyedEventLog.create(spark, str(tmp_path / "ulog"))
        victim, key = dl, "seq"
        flagged = _poison_epoch(spark)

        def run():
            return apply_batch_unkeyed(log, flagged, epoch_id=0, stream_id="s", dead_letter=dl)
    v0 = log.current_version()

    def crash(*_a, **_k):
        raise RuntimeError("injected crash")

    victim.append = crash
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            run()
    finally:
        del victim.append
    assert log.current_version() == v0 and _seg_dirs(log.path) == []
    assert victim.read() is None

    assert not run().get("skipped")
    assert run().get("skipped")
    # row 1 is valid, row 2 the reject or the poison row
    assert [r[key] for r in log.read().collect()] == [1]
    assert [r[key] for r in victim.read().collect()] == [2]
    if flow == "envelope_reject_append":
        # the keyed table got every valid row once (the reject is only
        # too big for an envelope), the poison row went to the event
        # quarantine once
        assert sorted(r["repo"] for r in t.read().collect()) == ["r1", "r2"]
        assert [r["seq"] for r in dl.read().collect()] == [3]


def test_epoch_fs_reads_stay_flat_across_write_arms(spark, tmp_path, counting_fs):
    """A keyed epoch makes 3 metadata reads through the fs seam — ONE
    metadata read (the ``_current`` pointer and ``v{n}.json``), in
    merge, which also runs the schema evolve on it, and ONE walk of the
    staged snapshot — on a delta epoch and on a compacting epoch alike,
    however many buckets it touches, the first epoch of a created
    handle included."""
    fs = counting_fs
    t = LakeTable.create(spark, str(tmp_path / "lake"), REPO_FILES_SCHEMA, KEY_COLS,
                         n_buckets=32, fs=fs)
    seen = []
    # keys r0..r3 recur every epoch: their buckets reach the delta depth
    # bound, and the last epoch compacts every bucket it touches
    for epoch, n_keys in enumerate([4] + [64] * MAX_DELTA_DEPTH):
        rows = [(epoch * 100 + i, f"r{i}", f"p{i}", "c", "py", f"v{epoch}", None,
                 "I" if epoch == 0 else "U", TS, 1) for i in range(n_keys)]
        fs.reads = 0
        lin = apply_batch_flagged(t, flag_dispositions(_events(spark, rows)), epoch_id=epoch)
        seen.append((lin["write_mode"], len(lin["buckets_touched"]), fs.reads))
    assert [mode for mode, _, _ in seen] == ["delta"] * MAX_DELTA_DEPTH + ["cow"]
    assert seen[0][1] <= 4 and seen[1][1] > 16 and seen[-1][1] > 16
    assert {reads for _, _, reads in seen} == {3}, seen


def _configured():
    """The repo_files config with a condition on every op and a column
    that one op does not log."""
    cfg = repo_files_config().tables["repo_files"]
    cfg.conditions["D"] = cfg.conditions["I"]
    cfg.columns = [ColumnCfg(c.name, c.log_insert, c.name != "lang" and c.log_update, c.log_delete)
                   for c in cfg.columns]
    return cfg


@pytest.mark.parametrize("configured", [False, True], ids=["trickle", "configured"])
def test_epoch_round_trips_stay_flat_across_bucket_counts(spark, tmp_path, py4j_round_trips,
                                                          configured):
    """The driver's cost of building one keyed epoch's plans does not
    grow with the bucket count: every per-row rule is SQL text, and a
    bucket list is one string. One ``apply_batch_flagged`` epoch makes
    the same number of py4j round trips on its calling thread at 8 and
    at 64 buckets, on the plain trickle shape and on a configured table
    (per-op conditions, a column flag), and stays within a budget."""
    cfg = _configured() if configured else None
    ev = generate_events(GenParams(n_events=300, seed=31, p_poison=0.0)).drop(columns=["is_noop"])
    flagged = flag_dispositions(spark.createDataFrame(ev), table_cfg=cfg).persist()
    try:
        counts = {}
        # the first epoch in the process pays one-time lookups: warm up
        for n_buckets in (16, 8, 64):
            t = LakeTable.create(spark, str(tmp_path / f"lake{n_buckets}"), REPO_FILES_SCHEMA,
                                 KEY_COLS, n_buckets=n_buckets)
            dl = DeadLetterTable(spark, str(tmp_path / f"dl{n_buckets}"))
            with py4j_round_trips() as rt:
                lin = apply_batch_flagged(t, flagged, epoch_id=0, dead_letter=dl, table_cfg=cfg)
            assert lin["write_mode"] == "delta" and len(lin["buckets_touched"]) > 4
            counts[n_buckets] = rt.n
    finally:
        flagged.unpersist()
    assert counts[8] == counts[64] <= 300, counts


def _within(seconds, fn):
    """``fn()`` on a daemon thread, failing the test when it has not
    returned after ``seconds``: a blocked ``Observation.get`` fails here
    instead of hanging the suite."""
    import threading

    out: dict = {}

    def run():
        try:
            out["v"] = fn()
        except BaseException as e:  # re-raised on the test thread
            out["e"] = e

    th = threading.Thread(target=run, daemon=True)
    th.start()
    th.join(seconds)
    assert not th.is_alive(), f"still blocked after {seconds} s"
    if "e" in out:
        raise out["e"]
    return out["v"]


@pytest.mark.parametrize("shape", ["false_conditions", "empty_batch",
                                   "unkeyed_false_conditions", "envelope_false_conditions",
                                   "mux_false_conditions"])
def test_provably_empty_epoch_returns(spark, tmp_path, shape):
    """An epoch the optimizer can prove empty — every per-op condition
    ``1 = 0`` (into a keyed table, an unkeyed log, a keyed table behind
    an envelope sink, or every table of a mux whose batch also holds one
    stray row), or no rows at all — returns and writes no row to a
    table: an empty-batch record, or a mux record that applied no table
    and quarantined the stray once. Each observation read before a
    commit (the probe's, above the combined filter of every table; the
    envelope log's reject count at its barrier) sits at the top of its
    plan, so it is delivered even when the relation below it folds
    away."""
    t = _mk(spark, tmp_path, "lake")
    dl = DeadLetterTable(spark, str(tmp_path / "dl"))
    ecfg = repo_files_config()
    cfg = ecfg.tables["repo_files"]
    cfg.conditions = {op: "1 = 0" for op in ("I", "U", "D")}
    events = _events(spark, [(1, "r1", "p1", "c1", "py", "x", None, "I", TS, 1),
                             (2, "r2", "p2", "c1", "py", "y", "x", "U", TS, 1)])
    if shape == "empty_batch":
        cfg, events = None, spark.createDataFrame([], EVENTS_SCHEMA)
    sink = t
    if shape == "unkeyed_false_conditions":
        cfg.key_handling = "N"
        sink = UnkeyedEventLog.create(spark, str(tmp_path / "ulog"))

        def run():
            return apply_batch_unkeyed(sink, flag_dispositions(events, table_cfg=cfg),
                                       epoch_id=0, table_cfg=cfg, dead_letter=dl)
    elif shape == "envelope_false_conditions":
        sink = EnvelopeSink(spark, str(tmp_path / "sink"))
        pipe = CdcStreamPipeline(spark, t, str(tmp_path / "ev"), str(tmp_path / "ck"),
                                 dead_letter_dir=dl.path, config=ecfg, envelope_sink=sink)

        def run():
            pipe._apply(events, 0)
            return pipe.epochs[-1]
    elif shape == "mux_false_conditions":
        from movex_cdc_spark.sources.events import to_multiplex_events
        from movex_cdc_spark.streaming.pipeline import MultiplexedCdcPipeline

        ecfg.tables["other"] = TableCfg(**{**vars(cfg), "name": "other"})
        other = _mk(spark, tmp_path, "other")
        pipe = MultiplexedCdcPipeline(spark, ecfg, {"repo_files": t, "other": other},
                                      str(tmp_path / "ev"), str(tmp_path / "ck"),
                                      dead_letter_dir=dl.path)
        tagged = to_multiplex_events(events, F.when(F.col("seq") == 2, F.lit("gone"))
                                     .otherwise(F.lit("repo_files")))

        def run():
            pipe._apply(tagged, 0)
            return pipe.epochs[-1]
    else:
        def run():
            return apply_batch_flagged(t, flag_dispositions(events, table_cfg=cfg), epoch_id=0,
                                       dead_letter=dl, table_cfg=cfg)
    v0 = t.current_version()
    lin = _within(120, run)
    assert t.current_version() == v0 and sink.read().count() == 0
    assert dl.read() is None
    if shape != "mux_false_conditions":
        assert lin.get("skipped") and lin["reason"] == "empty batch"
        return
    # a table whose config drops every row is not applied
    assert lin["tables"] == {} and lin["n_strays"] == 1
    assert other.current_version() == v0
    strays = pipe._side_dead_letter("_dispatch").read().collect()
    assert [(r["seq"], r["error_msg"]) for r in strays] == [(2, "unconfigured table")]


@pytest.mark.parametrize("unkeyed", [False, True], ids=["keyed", "unkeyed"])
@pytest.mark.parametrize("p_poison", [0.0, 0.05], ids=["clean", "poison"])
def test_stream_epoch_job_budget(spark, tmp_path, spark_jobs, unkeyed, p_poison):
    """The one-table stream is the shared epoch's one-table case: a
    clean epoch runs the probe (which builds the one cache) and the sink
    write, an epoch with poison also the dead-letter append."""
    cfg = repo_files_config()
    if unkeyed:
        cfg.tables["repo_files"].key_handling = "N"
        table, log = None, UnkeyedEventLog.create(spark, str(tmp_path / "log"))
    else:
        table, log = _mk(spark, tmp_path, "lake"), None
    pipe = CdcStreamPipeline(spark, table, str(tmp_path / "ev"), str(tmp_path / "ck"),
                             dead_letter_dir=str(tmp_path / "dl"), config=cfg, unkeyed_log=log)
    ev = generate_events(GenParams(n_events=400, seed=6, p_poison=p_poison))
    with spark_jobs() as got:
        pipe._apply(spark.createDataFrame(ev.drop(columns=["is_noop"])), 0)
    assert (pipe.epochs[-1]["n_poison"] > 0) == (p_poison > 0)
    assert (got.jobs, got.persists) == (3 if p_poison else 2, 1)
