"""Multi-table multiplexed pipeline (VERDICT r5 item 2): ONE streaming
query dispatching an interleaved tagged queue to N per-table sinks —
the reference's single Event_Logs queue with per-event Table_ID
dispatch (transfer_thread.rb:390,566-587)."""

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from movex_cdc_spark.config.table_config import (
    ColumnCfg,
    EngineConfig,
    ExpressionCfg,
    TableCfg,
    repo_files_config,
)
from movex_cdc_spark.datagen import GenParams, generate_events, replay_oracle
from movex_cdc_spark.lake.append_log import UnkeyedEventLog
from movex_cdc_spark.lake.table import LakeTable
from movex_cdc_spark.operators.apply import KEY_COLS, REPO_FILES_SCHEMA
from movex_cdc_spark.streaming.pipeline import MultiplexedCdcPipeline


def _mixed_config() -> EngineConfig:
    """Three tables, three different capture configs: the standard
    repo_files; a filtered/expression variant; an unkeyed audit log."""
    cfg = repo_files_config()
    # replay_oracle drops EXCLUDE-marked events on ALL ops; the default
    # config conditions cover I/U only — add the D condition so the
    # engine-vs-oracle comparison runs under one filter semantics
    _excl = "content IS NULL OR NOT contains(content, 'EXCLUDE FILTER')"
    cfg.tables["repo_files"].conditions["D"] = _excl
    cfg.tables["repo_files_b"] = TableCfg(
        name="repo_files_b",
        key_cols=["repo", "path"],
        columns=[
            ColumnCfg("repo"),
            ColumnCfg("path"),
            ColumnCfg("commit", log_delete=False),
            ColumnCfg("lang", log_update=False),   # differing column flags
            ColumnCfg("content", log_delete=False),
        ],
        # per-op filter composed WITH the exclude marker (replay_oracle
        # always drops marked events; a condition replaces the default
        # filter, so the test config must re-state it)
        conditions={
            "I": f"lang = 'py' AND ({_excl})",
            "U": f"lang = 'py' AND ({_excl})",
            "D": _excl,
        },
        expressions=[ExpressionCfg(alias="content_len", sql="length(content)")],
        key_handling="P",
    )
    cfg.tables["audit_log"] = TableCfg(
        name="audit_log",
        key_cols=["repo", "path"],
        columns=[ColumnCfg("repo"), ColumnCfg("path"), ColumnCfg("commit"),
                 ColumnCfg("lang"), ColumnCfg("content")],
        key_handling="N",  # unkeyed append path
    )
    return cfg


def _stage_interleaved(spark, tmp_path, per_table, n_files=3):
    """Tag each table's event stream and interleave them into one
    queue ordered by (seq, table) — the single-queue arrival order."""
    from movex_cdc_spark.sources.events import to_multiplex_events

    tagged = []
    for name, ev in per_table.items():
        sdf = spark.createDataFrame(ev.drop(columns=["is_noop"]))
        tagged.append(to_multiplex_events(sdf, name))
    queue = tagged[0]
    for t in tagged[1:]:
        queue = queue.unionByName(t)
    qpdf = queue.toPandas().sort_values(["seq", "table_name"]).reset_index(drop=True)
    d = str(tmp_path / "queue")
    os.makedirs(d, exist_ok=True)
    step = (len(qpdf) + n_files - 1) // n_files
    for i in range(n_files):
        chunk = qpdf.iloc[i * step:(i + 1) * step]
        pq.write_table(
            pa.Table.from_pandas(chunk, preserve_index=False),
            os.path.join(d, f"q-{i:03d}.parquet"),
            coerce_timestamps="us", allow_truncated_timestamps=True,
        )
    return d


def test_multiplexed_dispatch_matches_per_table_oracles(spark, tmp_path):
    """Interleaved I/U/D for three differently-configured tables through
    ONE query: each keyed table's final state must match its own pandas
    replay oracle (with that table's conditions applied), the unkeyed
    table must hold every validated event, and strays must be
    quarantined — all from one checkpointed stream."""
    cfg = _mixed_config()
    ev_a = generate_events(GenParams(n_events=3000, seed=101))
    ev_b = generate_events(GenParams(n_events=2000, seed=202))
    ev_c = generate_events(GenParams(n_events=500, seed=303))
    per_table = {"repo_files": ev_a, "repo_files_b": ev_b, "audit_log": ev_c}
    # plus rows for a table NOBODY configured
    stray = generate_events(GenParams(n_events=50, seed=404))
    d = _stage_interleaved(
        spark, tmp_path, {**per_table, "vanished_table": stray}
    )

    t_a = LakeTable.create(spark, str(tmp_path / "lake_a"), REPO_FILES_SCHEMA,
                           KEY_COLS, n_buckets=4)
    t_b = LakeTable.create(spark, str(tmp_path / "lake_b"), REPO_FILES_SCHEMA,
                           KEY_COLS, n_buckets=4)
    log_c = UnkeyedEventLog.create(spark, str(tmp_path / "log_c"))
    pipe = MultiplexedCdcPipeline(
        spark, cfg,
        sinks={"repo_files": t_a, "repo_files_b": t_b, "audit_log": log_c},
        events_dir=d,
        checkpoint_dir=str(tmp_path / "ck"),
        dead_letter_dir=str(tmp_path / "dl"),
        max_files_per_trigger=1,
    )
    epochs = pipe.run_available_now()
    assert len(epochs) == 3  # one per queue file
    # the tag probe's and each keyed table's probe observations were
    # read inside the micro-batch, with the tables dispatched
    # concurrently: every keyed table-epoch merged the buckets its
    # observation collected
    keyed = [
        e["tables"][n] for e in epochs for n in ("repo_files", "repo_files_b")
        if n in e["tables"]
    ]
    assert keyed and all(lin["buckets_touched"] for lin in keyed)
    assert sum(e["n_strays"] for e in epochs) == len(stray)

    # table A: standard config -> the standard replay oracle
    base_a = pd.DataFrame(columns=["repo", "path", "commit", "lang", "content",
                                   "last_seq", "deleted"])
    want_a = replay_oracle(base_a, ev_a)
    got_a = t_a.read().select("repo", "path", "content_sha").toPandas()
    m = got_a.merge(want_a[["repo", "path", "content_sha"]], on=["repo", "path"],
                    how="outer", indicator=True, suffixes=("_e", "_o"))
    assert (m["_merge"] == "both").all()
    assert (m["content_sha_e"] == m["content_sha_o"]).all()

    # table B: ITS config (lang='py' condition on I/U) -> oracle over the
    # pre-filtered event stream; D rows pass unconditioned
    ev_b_f = ev_b[(ev_b["op"] == "D") | (ev_b["lang"] == "py")]
    want_b = replay_oracle(base_a, ev_b_f)
    got_b = t_b.read()
    # differing column flags: lang is NOT logged on update; expression
    # column landed via schema evolution
    assert "content_len" in got_b.columns
    got_b_pd = got_b.select("repo", "path", "content_sha").toPandas()
    m2 = got_b_pd.merge(want_b[["repo", "path", "content_sha"]], on=["repo", "path"],
                        how="outer", indicator=True, suffixes=("_e", "_o"))
    assert (m2["_merge"] == "both").all()
    assert (m2["content_sha_e"] == m2["content_sha_o"]).all()

    # table C (unkeyed): every validated event appended once, no merge.
    # Its config has NO conditions, so marked events pass — only poison
    # (null content on I/U) and no-op updates are dropped
    valid_c = ev_c[~(ev_c["content"].isna() & ev_c["op"].isin(["I", "U"]))]
    valid_c = valid_c[~valid_c["is_noop"]]
    assert log_c.read().count() == len(valid_c)

    # strays quarantined with the reason, in their own dispatch store
    dl = UnkeyedEventLog.load(spark, str(tmp_path / "dl") + "_dispatch")
    stray_rows = dl.read()
    assert stray_rows.count() == len(stray)
    assert stray_rows.select("error_msg").distinct().collect()[0][0] == "unconfigured table"


def test_multiplexed_per_table_fences_compose(spark, tmp_path):
    """A replayed epoch must be a per-table no-op: each sink fences
    (stream_id, epoch_id) in its own metadata, so re-running the
    foreachBatch body (the crash-mid-dispatch window) applies nothing
    twice."""
    cfg = _mixed_config()
    ev_a = generate_events(GenParams(n_events=800, seed=7))
    ev_b = generate_events(GenParams(n_events=600, seed=8))
    d = _stage_interleaved(spark, tmp_path,
                           {"repo_files": ev_a, "repo_files_b": ev_b}, n_files=1)
    t_a = LakeTable.create(spark, str(tmp_path / "lake_a"), REPO_FILES_SCHEMA,
                           KEY_COLS, n_buckets=4)
    t_b = LakeTable.create(spark, str(tmp_path / "lake_b"), REPO_FILES_SCHEMA,
                           KEY_COLS, n_buckets=4)
    log_c = UnkeyedEventLog.create(spark, str(tmp_path / "log_c"))
    pipe = MultiplexedCdcPipeline(
        spark, cfg,
        sinks={"repo_files": t_a, "repo_files_b": t_b, "audit_log": log_c},
        events_dir=d, checkpoint_dir=str(tmp_path / "ck"),
    )
    from movex_cdc_spark.sources.events import MULTIPLEX_EVENTS_SCHEMA

    batch = spark.read.schema(MULTIPLEX_EVENTS_SCHEMA).parquet(d)
    pipe._apply(batch, epoch_id=0)
    va, vb = t_a.current_version(), t_b.current_version()
    # replay the whole dispatch body with the same epoch
    pipe._apply(batch, epoch_id=0)
    assert (t_a.current_version(), t_b.current_version()) == (va, vb)
    lins = pipe.epochs[1]["tables"]
    assert all(lin.get("skipped") for lin in lins.values())

    # a sink-less config table is refused up front
    cfg2 = _mixed_config()
    cfg2.tables["fourth"] = cfg2.tables["repo_files"]
    with pytest.raises(ValueError, match="no sink"):
        pipe.set_config(cfg2)


def test_multiplexed_poison_quarantined_for_every_table(spark, tmp_path):
    """Regression: all tables share ONE dead-letter log, which fences on
    (stream_id, epoch_id) — and the poison append runs even when a
    table's poison slice is empty. Under a single shared stream id the
    first table's append fenced the epoch, silently dropping every later
    table's poison rows. Per-table stream ids must land BOTH tables'
    poison in the SAME epoch."""
    cfg = _mixed_config()
    ev_a = generate_events(GenParams(n_events=400, seed=11,
                                     p_poison=0.0, p_filtered=0.0))
    ev_b = generate_events(GenParams(n_events=400, seed=12,
                                     p_poison=0.0, p_filtered=0.0))
    # craft poison (null content on I) in BOTH tables; lang='py' so the
    # rows pass repo_files_b's I condition and reach the poison split
    for ev in (ev_a, ev_b):
        idx = ev.index[ev["op"] == "I"][:3]
        assert len(idx) == 3
        ev.loc[idx, "content"] = None
        ev.loc[idx, "lang"] = "py"
    d = _stage_interleaved(spark, tmp_path,
                           {"repo_files": ev_a, "repo_files_b": ev_b},
                           n_files=1)
    t_a = LakeTable.create(spark, str(tmp_path / "lake_a"), REPO_FILES_SCHEMA,
                           KEY_COLS, n_buckets=4)
    t_b = LakeTable.create(spark, str(tmp_path / "lake_b"), REPO_FILES_SCHEMA,
                           KEY_COLS, n_buckets=4)
    pipe = MultiplexedCdcPipeline(
        spark, cfg,
        sinks={"repo_files": t_a, "repo_files_b": t_b,
               "audit_log": UnkeyedEventLog.create(spark, str(tmp_path / "log_c"))},
        events_dir=d,
        checkpoint_dir=str(tmp_path / "ck"),
        dead_letter_dir=str(tmp_path / "dl"),
    )
    pipe.run_available_now()
    dl = UnkeyedEventLog.load(spark, str(tmp_path / "dl")).read()
    per_stream = {r["stream_id"]: r["n"] for r in
                  dl.groupBy("stream_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert per_stream.get("cdc-mux:repo_files", 0) >= 3
    assert per_stream.get("cdc-mux:repo_files_b", 0) >= 3


def test_multiplexed_dead_letters_commit_only_for_poisoned_table(spark, tmp_path):
    """Keyed tables append dead letters only on poison: with poison in
    one table alone, the shared dead-letter log commits once per epoch
    for that table and never for the clean one."""
    cfg = repo_files_config()
    cfg.tables["clean"] = TableCfg(**{**vars(cfg.tables["repo_files"]), "name": "clean"})
    dirty = generate_events(GenParams(n_events=600, seed=21, p_poison=0.05))
    clean = generate_events(GenParams(n_events=600, seed=22, p_poison=0.0))
    d = _stage_interleaved(spark, tmp_path, {"repo_files": dirty, "clean": clean}, n_files=2)
    sinks = {
        n: LakeTable.create(spark, str(tmp_path / n), REPO_FILES_SCHEMA, KEY_COLS, n_buckets=4)
        for n in cfg.tables
    }
    pipe = MultiplexedCdcPipeline(
        spark, cfg, sinks=sinks, events_dir=d, checkpoint_dir=str(tmp_path / "ck"),
        dead_letter_dir=str(tmp_path / "dl"), max_files_per_trigger=1,
    )
    epochs = pipe.run_available_now()
    assert len(epochs) == 2
    assert all(e["tables"]["clean"]["n_poison"] == 0 for e in epochs)
    poisoned = [e for e in epochs if e["tables"]["repo_files"]["n_poison"] > 0]
    assert poisoned

    m = UnkeyedEventLog.load(spark, str(tmp_path / "dl")).meta()
    assert m["version"] == len(poisoned)
    assert set(m["epochs"]) == {"cdc-mux:repo_files"}
    n_poison = int((dirty["content"].isna() & dirty["op"].isin(["I", "U"])).sum())
    assert UnkeyedEventLog.load(spark, str(tmp_path / "dl")).read().count() == n_poison


def test_multiplexed_dispatch_inherits_local_properties(spark, tmp_path, monkeypatch):
    """Table applies run on dispatch pool threads; their jobs must carry
    the batch thread's Spark local properties (the streaming batch's job
    group), or query.stop() cannot cancel them."""
    from movex_cdc_spark.sources.events import MULTIPLEX_EVENTS_SCHEMA

    cfg = repo_files_config()
    cfg.tables["other"] = TableCfg(**{**vars(cfg.tables["repo_files"]), "name": "other"})
    d = _stage_interleaved(spark, tmp_path, {
        "repo_files": generate_events(GenParams(n_events=200, seed=31)),
        "other": generate_events(GenParams(n_events=200, seed=32)),
    }, n_files=1)
    sinks = {
        n: LakeTable.create(spark, str(tmp_path / n), REPO_FILES_SCHEMA, KEY_COLS, n_buckets=4)
        for n in cfg.tables
    }
    pipe = MultiplexedCdcPipeline(spark, cfg, sinks=sinks, events_dir=d,
                                  checkpoint_dir=str(tmp_path / "ck"))
    seen = []
    real = LakeTable.merge

    def spy(self, *a, **kw):
        seen.append(spark.sparkContext.getLocalProperty("movex.test.group"))
        return real(self, *a, **kw)

    monkeypatch.setattr(LakeTable, "merge", spy)
    sc = spark.sparkContext
    sc.setLocalProperty("movex.test.group", "batch-3")
    try:
        pipe._apply(spark.read.schema(MULTIPLEX_EVENTS_SCHEMA).parquet(d), epoch_id=0)
    finally:
        sc.setLocalProperty("movex.test.group", None)
    assert seen == ["batch-3", "batch-3"]


def test_multiplexed_null_table_tag_quarantined(spark, tmp_path):
    """Regression: a NULL table tag is reachable from the tagged Kafka
    source (a malformed wire record parses all-null). It used to either
    crash the epoch (sorted() can't order None against string strays)
    or vanish silently (isin([None]) is NULL, matching nothing). Both
    shapes must dead-letter / count instead."""
    cfg = repo_files_config()
    ev = generate_events(GenParams(n_events=300, seed=77,
                                   p_poison=0.0, p_filtered=0.0))
    ghost = generate_events(GenParams(n_events=20, seed=78,
                                      p_poison=0.0, p_filtered=0.0))
    d = _stage_interleaved(spark, tmp_path,
                           {"repo_files": ev, "ghost_table": ghost}, n_files=1)
    # null the tag on a handful of staged rows — the malformed shape —
    # so ONE batch carries both a string stray and a NULL tag
    f = os.path.join(d, "q-000.parquet")
    pdf = pq.read_table(f).to_pandas()
    null_idx = pdf.index[pdf["table_name"] == "repo_files"][:5]
    pdf.loc[null_idx, "table_name"] = None
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), f,
                   coerce_timestamps="us", allow_truncated_timestamps=True)

    t_a = LakeTable.create(spark, str(tmp_path / "lake_a"), REPO_FILES_SCHEMA,
                           KEY_COLS, n_buckets=4)
    pipe = MultiplexedCdcPipeline(
        spark, cfg,
        sinks={"repo_files": t_a},
        events_dir=d,
        checkpoint_dir=str(tmp_path / "ck"),
        dead_letter_dir=str(tmp_path / "dl"),
    )
    epochs = pipe.run_available_now()
    assert sum(e["n_strays"] for e in epochs) == len(ghost) + 5
    dl = UnkeyedEventLog.load(spark, str(tmp_path / "dl") + "_dispatch").read()
    by_msg = {r["error_msg"]: r["n"] for r in
              dl.groupBy("error_msg").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert by_msg == {"unconfigured table": len(ghost), "missing table tag": 5}

    # NULL as the ONLY stray, and no quarantine dir: the rows are
    # dropped but the lineage must still count them (the silent-loss
    # arm of the old bug)
    d2 = _stage_interleaved(spark, tmp_path / "q2",
                            {"repo_files": ev}, n_files=1)
    f2 = os.path.join(d2, "q-000.parquet")
    pdf2 = pq.read_table(f2).to_pandas()
    pdf2.loc[pdf2.index[:3], "table_name"] = None
    pq.write_table(pa.Table.from_pandas(pdf2, preserve_index=False), f2,
                   coerce_timestamps="us", allow_truncated_timestamps=True)
    t_b = LakeTable.create(spark, str(tmp_path / "lake_b"), REPO_FILES_SCHEMA,
                           KEY_COLS, n_buckets=4)
    pipe2 = MultiplexedCdcPipeline(
        spark, cfg,
        sinks={"repo_files": t_b},
        events_dir=d2,
        checkpoint_dir=str(tmp_path / "ck2"),
    )
    epochs2 = pipe2.run_available_now()
    assert sum(e["n_strays"] for e in epochs2) == 3


def test_mux_epoch_flags_persists_and_probes_once(spark, tmp_path, spark_jobs):
    """One cache and one probe per micro-batch: a static 4-table batch
    with poison in one table runs, on each delta epoch, one probe job,
    one write per table and one dead-letter append (1 + N + 1 jobs; the
    per-table flag, cache and probe took 10 jobs and 5 persists), and
    persists one frame. The compacting epoch adds one job per table."""
    from movex_cdc_spark.lake.table import MAX_DELTA_DEPTH
    from movex_cdc_spark.sources.events import MULTIPLEX_EVENTS_SCHEMA

    cfg = repo_files_config()
    proto = cfg.tables.pop("repo_files")
    names = [f"t{i}" for i in range(4)]
    for n in names:
        cfg.tables[n] = TableCfg(**{**vars(proto), "name": n})
    d = _stage_interleaved(spark, tmp_path, {
        n: generate_events(GenParams(n_events=300, seed=50 + i,
                                     p_poison=0.03 if i == 0 else 0.0))
        for i, n in enumerate(names)
    }, n_files=1)
    sinks = {n: LakeTable.create(spark, str(tmp_path / n), REPO_FILES_SCHEMA, KEY_COLS,
                                 n_buckets=8) for n in names}
    pipe = MultiplexedCdcPipeline(spark, cfg, sinks=sinks, events_dir=d,
                                  checkpoint_dir=str(tmp_path / "ck"),
                                  dead_letter_dir=str(tmp_path / "dl"))
    batch = spark.read.schema(MULTIPLEX_EVENTS_SCHEMA).parquet(d)
    n = len(names)
    for epoch in range(MAX_DELTA_DEPTH + 1):
        with spark_jobs() as got:
            pipe._apply(batch, epoch)
        lins = pipe.epochs[-1]["tables"]
        assert list(lins) == names
        assert lins["t0"]["n_poison"] > 0
        assert all(lins[t]["n_poison"] == 0 for t in names[1:])
        modes = {lin["write_mode"] for lin in lins.values()}
        assert got.persists == 1
        if modes == {"delta"}:
            assert got.jobs <= 1 + n + 1, (epoch, got.jobs)
        else:
            assert modes == {"cow"} and got.jobs <= 1 + 2 * n + 1, (epoch, got.jobs)
    assert modes == {"cow"}


def test_mux_table_failing_after_another_committed_replays_once(spark, tmp_path):
    """Crash point: one mux table fails after another committed. With one
    dispatch thread the first table (the poisoned one) commits its dead
    letters and its merge, then the second table's merge raises and fails
    the epoch. The replay of the same epoch is fenced for the first table
    and applies the second once: both equal their oracles, every dead
    letter is in the log once and each table has one metrics row."""
    from movex_cdc_spark.sources.events import MULTIPLEX_EVENTS_SCHEMA
    from movex_cdc_spark.streaming.lineage import MetricsTable

    cfg = repo_files_config()
    # replay_oracle drops EXCLUDE-marked deletes too
    cfg.tables["repo_files"].conditions["D"] = (
        "content IS NULL OR NOT contains(content, 'EXCLUDE FILTER')")
    cfg.tables["second"] = TableCfg(**{**vars(cfg.tables["repo_files"]), "name": "second"})
    per_table = {
        "repo_files": generate_events(GenParams(n_events=500, seed=61, p_poison=0.05)),
        "second": generate_events(GenParams(n_events=500, seed=62, p_poison=0.0)),
    }
    d = _stage_interleaved(spark, tmp_path, per_table, n_files=1)
    sinks = {n: LakeTable.create(spark, str(tmp_path / n), REPO_FILES_SCHEMA, KEY_COLS,
                                 n_buckets=4) for n in per_table}
    pipe = MultiplexedCdcPipeline(
        spark, cfg, sinks=sinks, events_dir=d, checkpoint_dir=str(tmp_path / "ck"),
        dead_letter_dir=str(tmp_path / "dl"), metrics_dir=str(tmp_path / "metrics"),
        dispatch_parallelism=1,
    )
    batch = spark.read.schema(MULTIPLEX_EVENTS_SCHEMA).parquet(d)
    first, second = sinks["repo_files"], sinks["second"]

    def crash(*_a, **_k):
        raise RuntimeError("injected merge failure")

    second.merge = crash
    try:
        with pytest.raises(RuntimeError, match="injected merge failure"):
            pipe._apply(batch, epoch_id=0)
    finally:
        del second.merge
    assert (first.current_version(), second.current_version()) == (1, 0)

    pipe._apply(batch, epoch_id=0)  # the replay
    assert (first.current_version(), second.current_version()) == (1, 1)
    lins = pipe.epochs[-1]["tables"]
    assert lins["repo_files"].get("skipped") and not lins["second"].get("skipped")

    base = pd.DataFrame(columns=["repo", "path", "commit", "lang", "content",
                                 "last_seq", "deleted"])
    for name, ev in per_table.items():
        want = replay_oracle(base, ev)[["repo", "path", "content_sha"]]
        got = sinks[name].read().select("repo", "path", "content_sha").toPandas()
        m = got.merge(want, on=["repo", "path"], how="outer", indicator=True,
                      suffixes=("_e", "_o"))
        assert (m["_merge"] == "both").all(), name
        assert (m["content_sha_e"] == m["content_sha_o"]).all(), name

    ev = per_table["repo_files"]
    n_poison = int((ev["content"].isna() & ev["op"].isin(["I", "U"])).sum())
    assert n_poison > 0
    dl = UnkeyedEventLog.load(spark, str(tmp_path / "dl")).read()
    assert dl.count() == dl.select("seq").distinct().count() == n_poison

    pipe.stop(None)  # flushes the buffered metrics rows
    rows = MetricsTable(spark, str(tmp_path / "metrics")).read().filter("epoch_id = 0")
    per_stream = {r["stream_id"]: r["n"]
                  for r in rows.groupBy("stream_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert per_stream == {"cdc-mux:repo_files": 1, "cdc-mux:second": 1}
