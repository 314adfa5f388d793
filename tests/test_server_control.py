"""Runtime server-control surface (streaming/control.py) + the
operator-initiated requeues — analog of the reference's
/server_control routes (config/routes.rb:39-46,
app/controllers/server_control_controller.rb): worker-count changes
applied at runtime, batch-size changes via graceful restart,
pause/terminate, and reprocess_final_errors."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from movex_cdc_spark.config.table_config import repo_files_config
from movex_cdc_spark.datagen import GenParams, generate_events, replay_oracle
from movex_cdc_spark.lake.table import LakeTable
from movex_cdc_spark.operators.apply import (
    KEY_COLS,
    REPO_FILES_SCHEMA,
    DeadLetterTable,
    apply_batch,
)
from movex_cdc_spark.sources.events import write_event_files
from movex_cdc_spark.streaming.control import PipelineSupervisor, ServerControl
from movex_cdc_spark.streaming.pipeline import CdcStreamPipeline
from movex_cdc_spark.streaming.retry import RetryWorker


# ------------------------------------------------------------ document
def test_control_document_validates_and_versions(tmp_path):
    c = ServerControl(str(tmp_path / "control.json"))
    assert c.read() == {"revision": 0}  # missing file = defaults

    doc = c.set(worker_threads_count=4, note="scale up")
    assert doc["revision"] == 1 and doc["worker_threads_count"] == 4
    doc = c.set(max_files_per_trigger=2)
    assert doc["revision"] == 2 and doc["max_files_per_trigger"] == 2
    assert c.get("worker_threads_count") == 4  # earlier keys persist

    with pytest.raises(ValueError, match="unknown control keys"):
        c.set(worker_thread_count=4)  # typo'd knob fails loud
    with pytest.raises(ValueError, match="must be an int >= 0"):
        c.set(worker_threads_count=-1)  # reference rejects negatives too
    with pytest.raises(ValueError, match="must be an int >= 1"):
        c.set(max_files_per_trigger=0)
    with pytest.raises(ValueError, match="unsupported log level"):
        c.set(log_level="CHATTY")
    assert c.read()["revision"] == 2  # failed sets commit nothing


# ---------------------------------------------------------- supervisor
def test_supervisor_pause_resume_and_restart_knobs(spark, tmp_path):
    """The full control lifecycle against a real checkpointed pipeline:
    pause (worker count 0) stops processing; resume + live worker-count
    applies; max_files_per_trigger applies via graceful restart from
    the SAME checkpoint; terminate ends the loop — and the final table
    state across all those stop/starts equals the replay oracle
    (exactly-once through every restart)."""
    ev = generate_events(GenParams(n_events=4000, seed=71))
    half = len(ev) // 2
    t = LakeTable.create(
        spark, str(tmp_path / "lake"), REPO_FILES_SCHEMA, KEY_COLS, n_buckets=4
    )
    pipe = CdcStreamPipeline(
        spark,
        t,
        events_dir=str(tmp_path / "events"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=2,
    )
    control = ServerControl(str(tmp_path / "control.json"))
    sup = PipelineSupervisor(pipe, control, available_now=True)

    # first half drains under the initial config
    write_event_files(ev.iloc[:half], str(tmp_path / "events"), n_files=2)
    sup.poll_once()
    sup.query.awaitTermination(120)
    n_first = t.read().count()
    assert n_first > 0

    # pause: worker_threads_count=0 stops the query; new files do NOT
    # process while paused
    control.set(worker_threads_count=0)
    sup.poll_once()
    assert sup.paused and sup.query is None
    write_event_files(
        ev.iloc[half:], str(tmp_path / "events"), n_files=2, prefix="late"
    )
    sup.poll_once()  # still paused — nothing starts
    assert sup.query is None
    assert t.read().count() == n_first

    # resume with a live worker-count change and a restart-class
    # batch-size change in one revision
    control.set(worker_threads_count=4, max_files_per_trigger=1)
    sup.poll_once()
    assert not sup.paused
    assert pipe.max_files_per_trigger == 1
    assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
    sup.query.awaitTermination(120)

    # exactly-once across pause/resume/restart: equals the oracle
    want = replay_oracle(
        pd.DataFrame(
            columns=["repo", "path", "commit", "lang", "content", "last_seq", "deleted"]
        ),
        ev,
    )
    got = t.read().select("repo", "path", "content_sha").toPandas()
    m = got.merge(
        want[["repo", "path", "content_sha"]],
        on=["repo", "path"], how="outer", indicator=True, suffixes=("_e", "_o"),
    )
    assert (m["_merge"] == "both").all()
    assert (m["content_sha_e"] == m["content_sha_o"]).all()

    # terminate ends the supervisor; subsequent polls stay stopped
    control.set(terminate=True)
    sup.poll_once()
    assert sup.terminated and sup.query is None
    sup.poll_once()
    assert sup.query is None
    # restore the session shuffle width for the rest of the suite
    spark.conf.set("spark.sql.shuffle.partitions", "8")


# ------------------------------------------------- reprocess (single)
def _poison_events(n=40, seed=5):
    ev = generate_events(GenParams(n_events=n, seed=seed))
    ev = ev[ev["op"] != "D"].copy()
    ev["content"] = None  # permanently poison: NULL content on I/U
    # non-null old image (as a real U trigger carries): otherwise a
    # poison U row would no-op-suppress (NULL <=> NULL) instead of
    # reaching the dead letter — same fixture rule as the
    # cdc_retry_heal_final_state entry query
    ev["old_content"] = "prev"
    return ev


def test_reprocess_final_errors_requeues_with_fresh_budget(spark, tmp_path):
    """Exhausted rows move dl -> final; reprocess_final_errors moves
    them BACK with retry_count=0 (the operator fixed the environment)
    and clears the final store; a second call is a no-op; the requeued
    rows are immediately eligible for the next readmit pass."""
    t = LakeTable.create(
        spark, str(tmp_path / "lake"), REPO_FILES_SCHEMA, KEY_COLS, n_buckets=4
    )
    dl = DeadLetterTable(spark, str(tmp_path / "dl"))
    ev = spark.createDataFrame(_poison_events().drop(columns=["is_noop"]))
    apply_batch(t, ev, epoch_id=0, dead_letter=dl)
    n_poison = dl.read().count()
    assert n_poison > 0

    worker = RetryWorker(
        spark, t, dl, str(tmp_path / "final"), max_retries=1, start_delay_s=0
    )
    worker.readmit(epoch_id=1)  # retry_count 0 -> 1
    r = worker.readmit(epoch_id=2)  # 1 -> exhausted
    assert r["final_errors"] == n_poison
    assert worker.final_errors().count() == n_poison
    assert dl.read() is None or dl.read().count() == 0

    rep = worker.reprocess_final_errors()
    assert rep["reprocessed"] == n_poison and rep["remaining"] == 0
    assert worker.final_errors() is None or worker.final_errors().count() == 0
    back = dl.read()
    assert back.count() == n_poison
    # fresh budget: retry_count reset, immediately eligible
    assert back.filter(F.col("retry_count") != 0).count() == 0
    assert dl.retry_eligible(start_delay_s=3600).count() == n_poison

    # idempotent second call: nothing left to requeue
    rep2 = worker.reprocess_final_errors()
    assert rep2["reprocessed"] == 0
    assert dl.read().count() == n_poison  # no duplicates


def test_reprocess_final_errors_scoped_where(spark, tmp_path):
    """The reference's schema/table scope generalized to a SQL
    predicate: only matching final rows requeue, the rest stay."""
    t = LakeTable.create(
        spark, str(tmp_path / "lake"), REPO_FILES_SCHEMA, KEY_COLS, n_buckets=4
    )
    dl = DeadLetterTable(spark, str(tmp_path / "dl"))
    ev = spark.createDataFrame(_poison_events(n=60, seed=9).drop(columns=["is_noop"]))
    apply_batch(t, ev, epoch_id=0, dead_letter=dl)
    worker = RetryWorker(
        spark, t, dl, str(tmp_path / "final"), max_retries=1, start_delay_s=0
    )
    worker.readmit(epoch_id=1)
    worker.readmit(epoch_id=2)
    total = worker.final_errors().count()
    n_ins = worker.final_errors().filter("op = 'I'").count()
    assert 0 < n_ins < total

    rep = worker.reprocess_final_errors(where="op = 'I'")
    assert rep["reprocessed"] == n_ins
    assert rep["remaining"] == total - n_ins
    assert worker.final_errors().count() == total - n_ins
    assert dl.read().count() == n_ins


def test_reprocess_where_null_predicate_keeps_undecidable_rows(spark, tmp_path):
    """3VL guard: a scope predicate that evaluates NULL on a row (here
    ``op = 'I'`` over a NULL-op poison row) must leave that row in the
    final store — not silently delete it from both sides of the split
    at the replace."""
    t = LakeTable.create(
        spark, str(tmp_path / "lake"), REPO_FILES_SCHEMA, KEY_COLS, n_buckets=4
    )
    dl = DeadLetterTable(spark, str(tmp_path / "dl"))
    ev = _poison_events(n=30, seed=21)
    ev.loc[ev.index[:3], "op"] = None  # malformed: NULL op -> poison
    apply_batch(t, spark.createDataFrame(ev.drop(columns=["is_noop"])),
                epoch_id=0, dead_letter=dl)
    worker = RetryWorker(
        spark, t, dl, str(tmp_path / "final"), max_retries=1, start_delay_s=0
    )
    worker.readmit(epoch_id=1)
    worker.readmit(epoch_id=2)
    total = worker.final_errors().count()
    n_null_op = worker.final_errors().filter(F.col("op").isNull()).count()
    assert n_null_op == 3

    rep = worker.reprocess_final_errors(where="op = 'I'")
    # NULL-op rows are NOT selected AND NOT lost
    assert rep["reprocessed"] + rep["remaining"] == total
    left = worker.final_errors()
    assert left.filter(F.col("op").isNull()).count() == n_null_op


def test_readmit_rerun_does_not_duplicate_final_errors(spark, tmp_path):
    """The crashed-pass window: readmit appends exhausted rows to the
    final store, then crashes BEFORE the dead-letter rewrite. The
    re-run finds those rows in the final store and appends none of
    them again."""
    t = LakeTable.create(
        spark, str(tmp_path / "lake"), REPO_FILES_SCHEMA, KEY_COLS, n_buckets=4
    )
    dl = DeadLetterTable(spark, str(tmp_path / "dl"))
    ev = spark.createDataFrame(_poison_events(n=30, seed=13).drop(columns=["is_noop"]))
    apply_batch(t, ev, epoch_id=0, dead_letter=dl)
    worker = RetryWorker(
        spark, t, dl, str(tmp_path / "final"), max_retries=1, start_delay_s=0
    )
    worker.readmit(epoch_id=1)

    # crash simulation: monkeypatch the rewrite away for one pass
    real_replace = dl.replace
    dl.replace = lambda df, m: None  # crash before the dl rewrite
    worker.readmit(epoch_id=2)
    n_after_crash = worker.final_errors().count()
    dl.replace = real_replace

    worker.readmit(epoch_id=3)  # the re-run (dl still holds the rows)
    assert worker.final_errors().count() == n_after_crash  # fenced: no dupes
    assert dl.read() is None or dl.read().count() == 0


def test_readmit_rerun_after_dead_letter_commits_finalises_each_row_once(spark, tmp_path):
    """The crashed-pass window with the dead-letter log moving before
    the re-run: the stream appends more poison and a compaction rewrites
    the segments. The re-run appends the crashed pass's rows to the
    final store zero more times, and still finalises the rows first
    exhausted on the re-run (the new poison, with ``max_retries=0``)."""
    t = LakeTable.create(
        spark, str(tmp_path / "lake"), REPO_FILES_SCHEMA, KEY_COLS, n_buckets=4
    )
    dl = DeadLetterTable(spark, str(tmp_path / "dl"))
    first = spark.createDataFrame(_poison_events(n=30, seed=13).drop(columns=["is_noop"]))
    apply_batch(t, first, epoch_id=0, dead_letter=dl)
    n_first = dl.read().count()
    worker = RetryWorker(
        spark, t, dl, str(tmp_path / "final"), max_retries=0, start_delay_s=0
    )
    real_replace = dl.replace
    dl.replace = lambda df, m: None  # crash before the dl rewrite
    assert worker.readmit(epoch_id=1)["final_errors"] == n_first
    dl.replace = real_replace
    assert worker.final_errors().count() == n_first

    later = spark.createDataFrame(_poison_events(n=20, seed=17).drop(columns=["is_noop"]))
    n_later = apply_batch(t, later, epoch_id=1, dead_letter=dl)["n_poison"]
    assert n_later > 0
    dl.log.compact_segments(target_files=1)

    worker.readmit(epoch_id=2)  # the re-run
    final = worker.final_errors()
    assert final.count() == n_first + n_later
    assert final.select("stream_id", "epoch_id", "seq").distinct().count() == n_first + n_later
    assert dl.read() is None or dl.read().count() == 0


def test_reprocess_rerun_after_final_log_commits_requeues_each_row_once(spark, tmp_path):
    """The same window on the operator requeue: reprocess_final_errors
    appends the final rows to the dead-letter store, then crashes
    before removing them from the final store; a compaction of the
    final store commits before the re-run. The re-run requeues none of
    them again, and removes them from the final store."""
    t = LakeTable.create(
        spark, str(tmp_path / "lake"), REPO_FILES_SCHEMA, KEY_COLS, n_buckets=4
    )
    dl = DeadLetterTable(spark, str(tmp_path / "dl"))
    worker = RetryWorker(
        spark, t, dl, str(tmp_path / "final"), max_retries=0, start_delay_s=0
    )
    for epoch, seed in ((0, 13), (2, 17)):  # two finalising passes: two segments
        ev = spark.createDataFrame(_poison_events(n=30, seed=seed).drop(columns=["is_noop"]))
        apply_batch(t, ev, epoch_id=epoch, dead_letter=dl)
        worker.readmit(epoch_id=epoch + 1)
    n_final = worker.final_errors().count()
    assert n_final > 0 and (dl.read() is None or dl.read().count() == 0)

    real_replace = worker.final.replace
    worker.final.replace = lambda df, m: None  # crash before the final rewrite
    assert worker.reprocess_final_errors()["reprocessed"] == n_final
    worker.final.replace = real_replace
    worker.final.compact_segments(target_files=1)

    rep = worker.reprocess_final_errors()  # the re-run
    assert rep["reprocessed"] == 0 and rep["remaining"] == 0
    assert dl.read().count() == n_final
    assert worker.final_errors() is None or worker.final_errors().count() == 0


def test_readmit_keeps_poison_appended_during_the_pass(spark, tmp_path):
    """The stream keeps quarantining while a readmit pass runs. The
    pass rewrites only the rows it read, so poison appended after its
    read stays in the dead-letter log, untouched (retry_count 0)."""
    t = LakeTable.create(
        spark, str(tmp_path / "lake"), REPO_FILES_SCHEMA, KEY_COLS, n_buckets=4
    )
    dl = DeadLetterTable(spark, str(tmp_path / "dl"))
    ev = spark.createDataFrame(_poison_events(n=30, seed=13).drop(columns=["is_noop"]))
    apply_batch(t, ev, epoch_id=0, dead_letter=dl)
    n_read = dl.read().count()
    later = spark.createDataFrame(_poison_events(n=20, seed=17).drop(columns=["is_noop"]))
    worker = RetryWorker(
        spark, t, dl, str(tmp_path / "final"), max_retries=5, start_delay_s=0
    )
    real_replace = dl.replace
    appended = []

    def replace_after_a_stream_append(*args):
        # the stream's next epoch commits its poison before the rewrite
        appended.append(apply_batch(t, later, epoch_id=1, dead_letter=dl)["n_poison"])
        return real_replace(*args)

    dl.replace = replace_after_a_stream_append
    r = worker.readmit(epoch_id=10)
    dl.replace = real_replace
    assert r["eligible"] == n_read and appended[0] > 0
    got = dl.read()
    assert got.count() == n_read + appended[0]
    assert got.filter("retry_count = 1").count() == n_read
    assert got.filter("retry_count = 0").count() == appended[0]


def test_clean_readmit_pass_reads_the_metadata_once(spark, tmp_path, counting_fs):
    """A readmit pass that finalises nothing makes 3 metadata reads on
    the dead-letter log: ONE metadata read (the ``_current`` pointer and
    ``v{n}.json``) for the rows it reads and its rewrite, and the walk
    of the rewrite's staged segment."""
    t = LakeTable.create(
        spark, str(tmp_path / "lake"), REPO_FILES_SCHEMA, KEY_COLS, n_buckets=4
    )
    dl = DeadLetterTable(spark, str(tmp_path / "dl"), fs=counting_fs)
    ev = spark.createDataFrame(_poison_events(n=30, seed=13).drop(columns=["is_noop"]))
    apply_batch(t, ev, epoch_id=0, dead_letter=dl)
    worker = RetryWorker(
        spark, t, dl, str(tmp_path / "final"), max_retries=5, start_delay_s=0
    )
    counting_fs.reads = 0
    r = worker.readmit(epoch_id=1)
    assert r["eligible"] > 0 and r["final_errors"] == 0
    assert counting_fs.reads <= 3, counting_fs.reads
    assert dl.read().filter("retry_count = 1").count() == r["eligible"]


# --------------------------------------------------- reprocess (mux)
def test_mux_reprocess_strays_after_config_heal(spark, tmp_path):
    """The canonical dispatch heal: rows quarantined for an
    unconfigured table re-dispatch through the table's normal chain
    once the operator registers it (set_config) — NULL-tag rows stay
    quarantined, and a re-run applies nothing twice (per-sink fences on
    the quarantine-log version)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from movex_cdc_spark.sources.events import to_multiplex_events
    from movex_cdc_spark.streaming.pipeline import MultiplexedCdcPipeline

    # replay_oracle drops EXCLUDE-marked events on ALL ops; the default
    # config conditions cover I/U only — align (same fixture rule as
    # test_multiplex._mixed_config)
    _excl = "content IS NULL OR NOT contains(content, 'EXCLUDE FILTER')"
    cfg = repo_files_config()
    cfg.tables["repo_files"].conditions["D"] = _excl
    ev_a = generate_events(GenParams(n_events=1500, seed=31))
    ev_b = generate_events(GenParams(n_events=800, seed=32))
    q_a = to_multiplex_events(
        spark.createDataFrame(ev_a.drop(columns=["is_noop"])), "repo_files"
    )
    q_b = to_multiplex_events(
        spark.createDataFrame(ev_b.drop(columns=["is_noop"])), "repo_files_b"
    )
    queue = q_a.unionByName(q_b)
    qpdf = queue.toPandas().sort_values(["seq", "table_name"]).reset_index(drop=True)
    # plus one UNTAGGED row (fresh seq, not borrowed from either
    # table's stream) — must survive every reprocess rewrite
    null_row = qpdf.iloc[[0]].copy()
    null_row["table_name"] = None
    null_row["seq"] = int(qpdf["seq"].max()) + 1000
    qpdf = pd.concat([qpdf, null_row], ignore_index=True)
    d = str(tmp_path / "queue")
    os.makedirs(d)
    pq.write_table(
        pa.Table.from_pandas(qpdf, preserve_index=False),
        os.path.join(d, "q-000.parquet"),
        coerce_timestamps="us", allow_truncated_timestamps=True,
    )

    t_a = LakeTable.create(spark, str(tmp_path / "lake_a"), REPO_FILES_SCHEMA,
                           KEY_COLS, n_buckets=4)
    t_b = LakeTable.create(spark, str(tmp_path / "lake_b"), REPO_FILES_SCHEMA,
                           KEY_COLS, n_buckets=4)
    pipe = MultiplexedCdcPipeline(
        spark, cfg,
        sinks={"repo_files": t_a},
        events_dir=d,
        checkpoint_dir=str(tmp_path / "ck"),
        dead_letter_dir=str(tmp_path / "dl"),
    )
    pipe.run_available_now()
    from movex_cdc_spark.lake.append_log import UnkeyedEventLog

    quarantine = UnkeyedEventLog.load(spark, str(tmp_path / "dl") + "_dispatch")
    n_quarantined = quarantine.read().count()
    assert n_quarantined > 0  # repo_files_b rows + the NULL-tag row

    # the operator registers the missing table, then reprocesses
    import dataclasses

    cfg2 = repo_files_config()
    cfg2.tables["repo_files"].conditions["D"] = _excl
    cfg2.tables["repo_files_b"] = dataclasses.replace(
        cfg2.tables["repo_files"], name="repo_files_b"
    )
    pipe.sinks["repo_files_b"] = t_b
    pipe.set_config(cfg2)
    rep = pipe.reprocess_strays()
    assert rep["tables"] == ["repo_files_b"]
    assert rep["reprocessed"] == n_quarantined - 1
    assert rep["remaining"] == 1  # the NULL-tag row stays

    # table B now holds ITS replay-oracle state, applied through its
    # normal config chain
    base = pd.DataFrame(
        columns=["repo", "path", "commit", "lang", "content", "last_seq", "deleted"]
    )
    want_b = replay_oracle(base, ev_b)
    got_b = t_b.read().select("repo", "path", "content_sha").toPandas()
    m = got_b.merge(
        want_b[["repo", "path", "content_sha"]],
        on=["repo", "path"], how="outer", indicator=True, suffixes=("_e", "_o"),
    )
    assert (m["_merge"] == "both").all()
    assert (m["content_sha_e"] == m["content_sha_o"]).all()
    v_b = t_b.current_version()

    # re-run: quarantine holds only the NULL-tag row; nothing healable,
    # nothing applied twice
    rep2 = pipe.reprocess_strays()
    assert rep2["reprocessed"] == 0 and rep2["remaining"] == 1
    assert t_b.current_version() == v_b
    assert t_b.read().count() == len(want_b)


def test_mux_reprocess_rerun_after_quarantine_commits_appends_each_row_once(spark, tmp_path):
    """A reprocess pass that crashed after its sink applies and before
    the quarantine rewrite re-runs under a new fence token once the
    quarantine log has committed in between (more strays arrived). An
    unkeyed (key_handling='N') sink is sent only the healed rows it does
    not hold yet, so each lands once; the re-run's rewrite keeps the new
    strays."""
    import dataclasses

    from movex_cdc_spark.lake.append_log import UnkeyedEventLog
    from movex_cdc_spark.sources.events import to_multiplex_events
    from movex_cdc_spark.streaming.pipeline import MultiplexedCdcPipeline

    cfg = repo_files_config()
    pipe = MultiplexedCdcPipeline(
        spark, cfg, sinks={"repo_files": LakeTable.create(
            spark, str(tmp_path / "lake"), REPO_FILES_SCHEMA, KEY_COLS, n_buckets=4)},
        events_dir=str(tmp_path / "queue"), checkpoint_dir=str(tmp_path / "ck"),
        dead_letter_dir=str(tmp_path / "dl"),
    )
    ev = spark.createDataFrame(
        generate_events(GenParams(n_events=300, seed=37)).drop(columns=["is_noop"]))
    pipe._apply(to_multiplex_events(ev, "t_u"), 0)  # every row a stray
    quarantine = pipe._side_dead_letter("_dispatch")
    assert quarantine.read().count() == 300

    cfg2 = repo_files_config()
    cfg2.tables["t_u"] = dataclasses.replace(cfg2.tables["repo_files"], name="t_u",
                                             key_handling="N")
    log = UnkeyedEventLog.create(spark, str(tmp_path / "ulog"))
    pipe.sinks["t_u"] = log
    pipe.set_config(cfg2)

    def crash(*_a, **_k):
        raise RuntimeError("injected crash")

    quarantine.replace = crash  # the pass dies before its rewrite
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            pipe.reprocess_strays()
    finally:
        del quarantine.replace
    n_applied = log.read().count()
    assert 0 < n_applied <= 300

    # five more strays, for a table still unconfigured, move the
    # quarantine log's version
    more = ev.filter("seq <= 5").withColumn("seq", F.col("seq") + 10_000)
    pipe._apply(to_multiplex_events(more, "t_other"), 1)
    rep = pipe.reprocess_strays()
    assert rep["tables"] == ["t_u"] and rep["reprocessed"] == 300 and rep["remaining"] == 5
    assert log.read().count() == n_applied
    assert log.read().select("seq").distinct().count() == n_applied
    assert quarantine.read().count() == 5
