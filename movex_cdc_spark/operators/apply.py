"""The apply pipeline: change batch → lake-table MERGE.

This is the Spark shape of the reference's hot path
(transfer_thread.rb:53-99):

    events → condition filter → no-op suppression → poison flag
    (flag_dispositions) → one probe job (probe_tables) →
    valid/poison slices (split_flagged) → [config projection] →
    [dead-letter append, only on poison] ∥ MERGE (epoch fence, schema
    evolve and LWW inside) → lineage/metrics record

One micro-batch = one call per table. The streaming epoch
(streaming/pipeline.py) flags every table of a micro-batch in one
projection, persists that frame, probes it once for all of them and
runs ``apply_batch_flagged`` (keyed) or ``apply_batch_unkeyed``
(key_handling='N') on each table's slice with its part of the probe;
called on their own they probe their frame with the same function.
Batch replays call ``apply_batch``, which dedups (LWW) before the merge
and persists the deduped rows. Every flow ends in the same tail,
``_apply_tail``.
"""

from __future__ import annotations

import re
import time
from concurrent.futures import ThreadPoolExecutor
from typing import Any, Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from movex_cdc_spark.lake.table import LakeTable, bucket_sql
from movex_cdc_spark.operators.filters import (
    bad_op_sql,
    condition_keep_sql,
    default_exclude_condition,
    noop_keep_sql,
    per_op_keep_sql,
    poison_sql,
)
from movex_cdc_spark.operators.lww import lww_dedup_maxby
from movex_cdc_spark.session import inheriting_local_properties, observe_noop, pinned_now, select_sql
from movex_cdc_spark.sqltext import cast, ident, in_list, literal
from movex_cdc_spark.sources.events import EVENTS_SCHEMA

REPO_FILES_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("commit", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("content", T.StringType()),
        T.StructField("content_sha", T.StringType()),
    ]
)

KEY_COLS = ["repo", "path"]


POISON_FLAG = "__poison"


def _needs_old_image(table_cfg) -> bool:
    """Whether a config expression may read ``old_content`` (named, or
    pulled in by a ``*``): only then does the flagged cache keep it."""
    return table_cfg is not None and any(
        re.search(r"old_content|\*", ex.sql, re.IGNORECASE)
        for ex in table_cfg.expressions
    )


def flag_dispositions(
    events: DataFrame,
    condition_sql: str | None = None,
    table_cfg: "object | None" = None,
    envelope_sink: "object | None" = None,
    tables: "dict[str, Any] | None" = None,
) -> DataFrame:
    """THE disposition pass, one projection over one filter: condition
    filter (or the config's per-op conditions) and no-op suppression
    applied, poison rows FLAGGED (not split). Every apply path slices
    its valid and poison rows off this frame with ``split_flagged``;
    the streaming epoch persists it first, so the JSON parse and the
    cache write each happen exactly once per micro-batch.

    ``tables`` (``{table_name: TableCfg}``, over a frame tagged with
    ``table_name``) flags every table in the same pass: each row is
    kept by its own table's rules (``CASE table_name …``), and a row
    whose tag is NULL or names no table passes through unfiltered.

    ``old_content`` is only consumed by the no-op check, and at ~the
    payload's size it is the single biggest column of the batch, so it
    is dropped here unless a later stage reads it: a config expression
    that may read it, or an attached ``envelope_sink`` (the envelope
    carries the old image). Only the presence of the sink matters; the
    decision is derived from the inputs, not configured.
    """
    cols = events.columns

    def keep_of(cfg) -> str:
        if cfg is not None:
            keep = [per_op_keep_sql(cfg.conditions, event_shaped="content" in cols)]
        else:
            keep = [condition_keep_sql(condition_sql or default_exclude_condition(),
                                       "op" in cols and "content" in cols)]
        if "old_content" in cols:
            keep.append(noop_keep_sql())
        return " AND ".join(k for k in keep if k)

    if tables is None:
        cfgs, keep = [table_cfg], keep_of(table_cfg)
    else:
        cfgs = list(tables.values())
        cases = " ".join(f"WHEN {literal(n)} THEN {keep_of(c) or 'true'}" for n, c in tables.items())
        keep = f"CASE table_name {cases} ELSE true END" if cases else ""
    df = events.filter(keep) if keep else events
    drop = {POISON_FLAG}
    if envelope_sink is None and not any(map(_needs_old_image, cfgs)):
        drop.add("old_content")
    return select_sql(df, [*(ident(c) for c in cols if c not in drop),
                           f"{poison_sql()} AS {POISON_FLAG}"])


def _poison_slice(flagged: DataFrame) -> DataFrame:
    """The poison rows of a flagged frame, with ``error_msg`` naming the
    defect (one rule for every path) and the EVENT_COLS shape: where the
    old image was not retained, ``old_content`` is explicitly NULL, so
    the dead-letter schema stays union-stable across paths and
    RetryWorker's re-validation chain resolves every column."""
    cols = [c for c in flagged.columns if c != POISON_FLAG]
    msg = (f"CASE WHEN {bad_op_sql()} THEN 'unknown operation'"
           " ELSE 'null content on insert/update' END AS error_msg")
    out = [msg if c == "error_msg" else ident(c) for c in cols]
    if "error_msg" not in cols:
        out.append(msg)
    if "old_content" not in cols:
        out.append("CAST(NULL AS STRING) AS old_content")
    return select_sql(flagged.filter(POISON_FLAG), out)


def split_flagged(flagged: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(valid, poison) slices of a ``flag_dispositions`` frame, each one
    projection over one filter (``_poison_slice``)."""
    valid = select_sql(flagged.filter(f"NOT {POISON_FLAG}"),
                       [ident(c) for c in flagged.columns if c != POISON_FLAG])
    return valid, _poison_slice(flagged)


def prepare_batch(
    events: DataFrame,
    condition_sql: str | None = None,
    table_cfg: "object | None" = None,
) -> tuple[DataFrame, DataFrame]:
    """Dispositions + config projection + LWW + sha256.
    Returns (ready_batch, poison_rows).

    table_cfg (config.table_config.TableCfg): when given, the batch is
    compiled exactly like the reference compiles its capture triggers
    (db_trigger_generator_oracle.rb:98-238):
      * per-op trigger conditions (P3) replace ``condition_sql``
      * per-op column flags null un-logged payload columns (P1/P2)
      * column_expressions add computed payload columns (§2.10)
    Projection runs AFTER validation/no-op checks (those see the
    original row, as the trigger does) and BEFORE LWW, so the winning
    row per key carries the configured payload shape.

    The LWW is the map-side-combining ``max_by`` aggregate (skew-proof:
    its partial combine bounds hot keys). Deduping before the merge
    keeps a full-backlog replay's merge input at one row per key.

    NOTE: the input is deliberately NOT persisted: the poison slice
    re-scans it. Full-backlog replays are cheaper re-scanned (measured:
    a MEMORY_ONLY cache of 16M rows cost more in GC/memory pressure than
    the rescan saved); apply_batch persists only the deduped output, and
    the streaming shells persist their micro-batch.
    """
    flagged = flag_dispositions(events, condition_sql, table_cfg)
    slim = _slim(flagged, table_cfg)
    return _with_sha(lww_dedup_maxby(slim, KEY_COLS)), _poison_slice(flagged)


# bookkeeping columns only the filters read; the merge never sees them
_NOT_PAYLOAD = ("old_content", "ts", "txid", "is_noop", POISON_FLAG)


def _sha_sql(content: str) -> str:
    """``content_sha`` of the payload SQL ``content`` (NULL for a delete)."""
    return f"CASE WHEN {content} IS NOT NULL THEN sha2(CAST({content} AS STRING), 256) END"


def _slim(flagged: DataFrame, table_cfg, sha: bool = False) -> DataFrame:
    """The valid rows of a flagged frame shaped for the merge, in one
    projection over one filter: P1/P2 projection + column_expressions
    (they may read ts/txid/old_content, so they run first), then only
    key/seq/op/payload are kept — the old-image and bookkeeping columns
    were only needed by the filters — plus ``content_sha`` when ``sha``
    (over the projected content). Config expressions add their own
    projections (``TableCfg.apply_projection``)."""
    cols = flagged.columns
    valid = flagged.filter(f"NOT {POISON_FLAG}") if POISON_FLAG in cols else flagged
    if table_cfg is not None and table_cfg.expressions:
        valid = table_cfg.apply_projection(valid)
        proj = {c: ident(c) for c in valid.columns}
    elif table_cfg is not None:
        proj = table_cfg.projection(cols)
    else:
        proj = {c: ident(c) for c in cols}
    out = {n: sql for n, sql in proj.items() if n not in _NOT_PAYLOAD}
    if sha:
        out["content_sha"] = _sha_sql(proj["content"])
    return select_sql(valid, [f"{sql} AS {ident(n)}" for n, sql in out.items()])


def _with_sha(ready: DataFrame) -> DataFrame:
    """``content_sha`` of the payload (NULL for a delete)."""
    sha = f"{_sha_sql(ident('content'))} AS content_sha"
    cols = ready.columns
    return select_sql(ready, [sha if c == "content_sha" else ident(c) for c in cols]
                      + ([] if "content_sha" in cols else [sha]))


def _record_metrics(metrics, lineage, got, n_poison, stream_id, epoch_id, scope) -> None:
    """One MetricsTable row per applied epoch. ``scope`` names what the
    counters count, and is never mixed silently: the streaming flow
    counts valid captured EVENTS pre-LWW (``valid_events_pre_dedup``,
    reference statistic_counter semantics); the batch flow counts the
    post-LWW deduped KEYS it merges (``deduped_keys``)."""
    lineage["counter_scope"] = scope
    if metrics is None:
        return
    metrics.append(
        {
            "stream_id": stream_id,
            "epoch_id": epoch_id,
            "table_version": lineage.get("version"),
            "events": got.get("events"),
            "n_insert": got.get("n_insert"),
            "n_update": got.get("n_update"),
            "n_delete": got.get("n_delete"),
            "n_poison": n_poison,
            "max_seq": got.get("max_seq"),
            "buckets_touched": len(lineage.get("buckets_touched", [])),
            "merge_latency_s": lineage["merge_latency_s"],
            "counter_scope": scope,
        }
    )
    lineage["metrics"] = got


def stray_sql(tags) -> str:
    """SQL text true for a row whose ``table_name`` tag is NULL or names
    none of ``tags``. The NULL tag (a malformed tagged Kafka record
    parses all-null) needs its own branch: NOT (NULL IN …) is NULL."""
    return f"table_name IS NULL OR NOT {in_list('table_name', tags)}"


def probe_tables(
    df: DataFrame, tables: "dict[str | None, tuple[Any, Any]]"
) -> tuple[dict[str | None, dict[str, Any]], int]:
    """THE epoch probe, ONE job (``observe_noop``) however many tables
    it serves. ``tables`` maps a ``table_name`` tag to ``(sink,
    table_cfg)``; the tag None stands for every row of an untagged
    frame. ``df`` is a ``flag_dispositions`` frame or the batch flow's
    deduped rows. Per table, over its valid rows: the A1 counters
    (``events``, ``n_insert``/``n_update``/``n_delete``, ``max_seq``)
    and, for a keyed sink, the ``touched`` buckets of its keys as the
    config projects them (a key column a config does not log for an op
    is nulled); while ``df`` carries the poison flag, its poison count
    ``n_poison_seen``; and ``started``/``probe_s``, the probe's start
    and wall. Also returns the count of stray rows, whose tag is NULL
    or names no table (0 on an untagged frame).

    The observation sits at the top of the probe's plan, where it is
    delivered even when the optimizer folds the relation below it
    away. Never observe the counters on a sink's ``ready`` rows: their
    only action is the sink write, which did not deliver observed
    metrics inside a micro-batch — obs.get deadlocked the stream."""
    cols = df.columns
    flagged = POISON_FLAG in cols
    need = {"seq", "op", POISON_FLAG}
    aggs = {}
    for i, (tag, (sink, cfg)) in enumerate(tables.items()):
        mine = "true" if tag is None else f"table_name = {literal(tag)}"
        ok = f"{mine} AND NOT {POISON_FLAG}" if flagged else mine
        part = {"events": f"count(CASE WHEN {ok} THEN 1 END)",
                "max_seq": f"max(CASE WHEN {ok} THEN seq END)", **{
                    f"n_{name}": f"count(CASE WHEN {ok} AND op = '{op}' THEN 1 END)"
                    for op, name in (("I", "insert"), ("U", "update"), ("D", "delete"))}}
        if flagged:
            part["n_poison_seen"] = f"count(CASE WHEN {mine} AND {POISON_FLAG} THEN 1 END)"
        if isinstance(sink, LakeTable):
            keys = cfg.projection(cols) if cfg is not None else {c: ident(c) for c in cols}
            bucket = bucket_sql(sink.key_cols, sink.n_buckets, keys.__getitem__)
            part["touched"] = f"collect_set(CASE WHEN {ok} THEN {bucket} END)"
            need.update(sink.key_cols)
        aggs[f"t{i}"] = "struct(" + ", ".join(f"{sql} AS {n}" for n, sql in part.items()) + ")"
    if None not in tables:
        aggs["strays"] = f"count(CASE WHEN {stray_sql(tables)} THEN 1 END)"
        need.add("table_name")
    started = time.monotonic()
    got = observe_noop(select_sql(df, [ident(c) for c in cols if c in need]), **aggs)
    wall = round(time.monotonic() - started, 4)
    out = {}
    for i, tag in enumerate(tables):
        out[tag] = part = got[f"t{i}"].asDict()
        if "touched" in part:
            part["touched"] = sorted(part["touched"])
        part.update(started=started, probe_s=wall)
    return out, int(got.get("strays") or 0)


def _apply_tail(
    sink: "LakeTable | Any",
    ready: DataFrame,
    poison: "Callable[[], DataFrame]",
    probe: dict[str, Any],
    scope: str,
    epoch_id: int | None,
    stream_id: str,
    dead_letter: "DeadLetterTable | None",
    metrics: "object | None",
) -> dict[str, Any]:
    """The tail every flow shares; they differ only in the sink (a keyed
    ``LakeTable`` or an ``UnkeyedEventLog``), the ``ready`` rows they
    write and the ``probe`` (``probe_tables``) of the frame they sliced
    them from (``poison`` builds the poison slice, only when it is
    needed). The tail runs no probe of its own:

    1. the poison decision: the probe's poison count, or, over a frame
       that no longer carries the flag, one ``isEmpty`` over ``poison``
       (only when there is a dead-letter log);
    2. the dead-letter append, ONLY when there is poison, on a pool
       thread that inherits this thread's Spark local properties (so
       query.stop() cancels its jobs) and overlaps the sink's staging
       write. It is joined at the sink's ``pre_commit`` barrier, so the
       poison commit durably precedes the sink commit: a crash between
       the two replays only the append, which the dead-letter log's own
       fence resolves. An epoch that appended nothing leaves nothing to
       fence or replay;
    3. the sink write, skipped when no row is valid: ``merge(probe=
       touched)`` widens the schema first (ALTER-before-MERGE), then the
       ``ready`` plan runs once more, inside the snapshot write, or the
       log's ``append``; a replayed epoch is fenced there and returns
       the fence record;
    4. the metrics row, its counters in ``scope``. ``merge_latency_s``
       runs from the probe's start."""
    got = dict(probe)
    t0, probe_wall = got.pop("started"), got.pop("probe_s")
    touched = got.pop("touched", None)
    n_seen = got.pop("n_poison_seen", None)
    has_poison = dead_letter is not None and (
        n_seen > 0 if n_seen is not None else not poison().isEmpty())

    def append_timed() -> tuple[int, float]:
        _t = time.monotonic()
        n = dead_letter.append(poison(), stream_id=stream_id, epoch_id=epoch_id)
        return n, round(time.monotonic() - _t, 4)

    # the pool starts no thread unless the append is submitted
    with ThreadPoolExecutor(max_workers=1) as pool:
        dl_future = (
            pool.submit(inheriting_local_properties(ready.sparkSession, append_timed))
            if has_poison else None
        )
        barrier = dl_future.result if dl_future is not None else None
        if not got["events"]:
            lineage: dict[str, Any] = {"skipped": True, "reason": "empty batch"}
        elif isinstance(sink, LakeTable):
            lineage = sink.merge(ready, stream_id=stream_id, epoch_id=epoch_id, probe=touched,
                                 probe_rows=got["events"], pre_commit=barrier)
        else:
            lineage = sink.append(ready, stream_id=stream_id, epoch_id=epoch_id,
                                  pre_commit=barrier)
        # already done when the sink committed (pre_commit barrier)
        n_poison, dl_wall = dl_future.result() if dl_future is not None else (0, 0.0)
    lineage["merge_latency_s"] = round(time.monotonic() - t0, 4)
    lineage["n_poison"] = n_poison
    # Phase timings ride the RETURNED lineage record; the copy frozen
    # into the table metadata is taken before the commit finishes.
    timings = lineage.setdefault("timings", {})
    timings["probe_s"] = probe_wall  # the epoch's probe, not merge's
    if dead_letter is not None:
        # the append's own wall; the sink's pre_commit_wait_s is the part
        # of it the staging write did not hide
        timings["dl_append_s"] = dl_wall
    if lineage.get("skipped"):
        return lineage
    _record_metrics(metrics, lineage, got, n_poison, stream_id, epoch_id, scope)
    return lineage


def apply_batch_flagged(
    table: LakeTable,
    flagged: DataFrame,
    epoch_id: int | None = None,
    stream_id: str = "default",
    dead_letter: "DeadLetterTable | None" = None,
    metrics: "object | None" = None,
    table_cfg: "object | None" = None,
    probe: "dict[str, Any] | None" = None,
) -> dict[str, Any]:
    """The streaming flow of every keyed table, over a pre-flagged
    (cached) micro-batch; filters already ran in flag_dispositions (with
    the same ``table_cfg``). The config's projection and expressions
    shape the valid slice, as in prepare_batch; poison rows are
    quarantined unprojected.

    ``probe`` is this table's part of the epoch's ``probe_tables`` job;
    without it the frame is probed here, in one job that counts the
    valid events pre-LWW (``valid_events_pre_dedup``) and the poison
    rows. The valid slice goes to ``merge`` un-deduped: merge resolves
    last-writer-wins in the same aggregate that joins it with the
    stored rows."""
    if probe is None:
        probe = probe_tables(flagged, {None: (table, table_cfg)})[0][None]
    return _apply_tail(table, _slim(flagged, table_cfg, sha=True),
                       lambda: _poison_slice(flagged), probe, "valid_events_pre_dedup",
                       epoch_id, stream_id, dead_letter, metrics)


def apply_batch(
    table: LakeTable,
    events: DataFrame,
    epoch_id: int | None = None,
    stream_id: str = "default",
    condition_sql: str | None = None,
    dead_letter: "DeadLetterTable | None" = None,
    metrics: "object | None" = None,
    table_cfg: "object | None" = None,
) -> dict[str, Any]:
    """Apply one batch of change events with exactly-once fencing — the
    batch-replay flow (dead-letter readmission, direct backlog
    replays). prepare_batch dedups (LWW) first, which keeps a
    full-backlog replay's merge input at one row per key; the deduped
    ``ready`` frame is persisted, so the probe job builds it once and
    the snapshot write reads it back. The counters count the post-LWW
    keys merged (``deduped_keys``); dead letters are appended only when
    the batch holds poison, overlapped with the snapshot write.

    ``table_cfg`` compiles capture config (conditions / projection /
    expressions) into the batch plan — see prepare_batch. A config that
    adds expression columns triggers schema evolution on the lake table
    before the merge (ALTER-before-MERGE)."""
    ready, poison = prepare_batch(events, condition_sql=condition_sql, table_cfg=table_cfg)
    ready = ready.persist()
    try:
        probe = probe_tables(ready, {None: (table, None)})[0][None]
        return _apply_tail(table, ready, lambda: poison, probe, "deduped_keys",
                           epoch_id, stream_id, dead_letter, metrics)
    finally:
        ready.unpersist()


def apply_batch_unkeyed(
    log,
    flagged: DataFrame,
    epoch_id: int | None = None,
    stream_id: str = "default",
    table_cfg: "object | None" = None,
    dead_letter: "DeadLetterTable | None" = None,
    metrics: "object | None" = None,
    probe: "dict[str, Any] | None" = None,
) -> dict[str, Any]:
    """S5 unkeyed path (key_handling='N') over a ``flag_dispositions``
    frame (built with the same ``table_cfg``): validated, projected
    events are APPENDED in arrival order — no LWW collapse, no merge —
    exactly the reference's keyless produce with relaxed ordering
    (transfer_thread.rb:331-347). ``log`` is a lake.append_log.
    UnkeyedEventLog; the epoch fence lives in its atomic commit. It ends
    in the shared tail (``_apply_tail``), as the keyed flows do, with
    ``probe`` as in ``apply_batch_flagged``."""
    if probe is None:
        probe = probe_tables(flagged, {None: (log, table_cfg)})[0][None]
    valid = flagged.filter(f"NOT {POISON_FLAG}")
    if table_cfg is not None:
        valid = table_cfg.apply_projection(valid)
    cols = {c: ident(c) for c in valid.columns if c not in ("old_content", "is_noop", POISON_FLAG)}
    if table_cfg is not None:
        # msg_key column materialized for the envelope/sink contract;
        # NULL for mode 'N' (consumers must not assume per-key order)
        cols["msg_key"] = table_cfg.key_sql()
    valid = select_sql(valid, [f"{sql} AS {ident(n)}" for n, sql in cols.items()])
    return _apply_tail(log, valid, lambda: _poison_slice(flagged), probe,
                       "valid_events_pre_dedup", epoch_id, stream_id, dead_letter, metrics)


def envelope_timestamp(
    ts, legacy_ts_format: str | None = None, tz_offset: str = "+00:00"
):
    """The reference's three envelope timestamp formats, selected per
    config exactly like MovexCdc::Application.config.legacy_ts_format
    (transfer_thread.rb:520-536):

      * ``None`` (default) — ISO 8601, 6-digit fraction with DOT
        delimiter, configured DB timezone WITH colon:
        ``2020-02-27T12:50:42.123456+00:00``
      * ``'TYPE_1'`` — COMMA fraction delimiter, timezone WITHOUT
        colon: ``2020-02-27T12:50:42,123456+0000``
      * ``'TYPE_2'`` — COMMA fraction delimiter, timezone WITH colon:
        ``2020-02-27T12:50:42,123456+00:00``

    ``tz_offset`` is the db_default_timezone analog. It is not just a
    label: the wall time is CONVERTED into that zone before the offset
    is appended (``from_utc_timestamp``), so the rendered instant is
    the event's actual instant — appending a raw "-05:00" to a UTC
    wall time would shift every consumer-parsed timestamp by 5 hours.
    Events' ``ts`` is UTC (the engine session zone, session.py)."""
    if tz_offset != "+00:00":
        ts = F.from_utc_timestamp(ts, tz_offset)
    base = F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss")
    micros = F.date_format(ts, "SSSSSS")
    if legacy_ts_format is None:
        return F.concat(base, F.lit("."), micros, F.lit(tz_offset))
    if legacy_ts_format == "TYPE_1":
        return F.concat(base, F.lit(","), micros, F.lit(tz_offset.replace(":", "")))
    if legacy_ts_format == "TYPE_2":
        return F.concat(base, F.lit(","), micros, F.lit(tz_offset))
    raise ValueError(f"Unknown legacy timestamp format {legacy_ts_format!r}")


def with_envelope(df: DataFrame, schema_name: str = "public",
                  table_name: str = "repo_files",
                  cloudevents: bool = False,
                  legacy_ts_format: str | None = None,
                  tz_offset: str = "+00:00") -> DataFrame:
    """Message envelope assembly (SURVEY P7/P8; reference
    transfer_thread.rb:493-536,659-679): id/schema/table/operation-long/
    ISO timestamp/transaction id, optionally CloudEvents ce_* headers.
    ``legacy_ts_format`` selects the reference's legacy timestamp
    variants (see envelope_timestamp)."""
    out = df.select(
        F.col("seq").alias("id"),
        F.lit(schema_name).alias("schema_name"),
        F.lit(table_name).alias("table_name"),
        F.when(F.col("op") == "I", "INSERT")
        .when(F.col("op") == "U", "UPDATE")
        .when(F.col("op") == "D", "DELETE")
        .otherwise("INIT")
        .alias("operation"),
        envelope_timestamp(F.col("ts"), legacy_ts_format, tz_offset).alias("timestamp"),
        F.col("txid").alias("transaction_id"),
        F.to_json(F.struct("repo", "path", "commit", "lang", "content")).alias("new_payload"),
        F.to_json(F.struct(F.col("old_content").alias("content"))).alias("old_payload"),
        F.to_json(F.struct("repo", "path")).alias("msg_key"),
        *df.columns,
    )
    if cloudevents:
        out = (
            out.withColumn("ce_id", F.concat_ws("-", F.lit(table_name), F.col("seq")))
            .withColumn("ce_source", F.lit(f"spark://movex-cdc/{schema_name}/{table_name}"))
            .withColumn("ce_specversion", F.lit("1.0"))
            .withColumn("ce_type", F.concat(F.lit("cdc."), F.lower(F.col("operation"))))
            .withColumn("ce_time", F.col("timestamp"))
        )
    return out


def backoff_elapsed(now, start_delay_s: int):
    """Whether a dead-letter row is due for retry at the instant ``now``
    (``pinned_now``), reference S7: retry_count = 0 OR last_error_time +
    start_delay * 3^(retry_count-1) < now (transfer_thread.rb:358-371)."""
    backoff = F.expr(
        f"last_error_time + make_interval(0,0,0,0,0,0, {start_delay_s} * pow(3, retry_count - 1))"
    )
    return (F.col("retry_count") == 0) | (backoff < F.lit(now))


class DeadLetterTable:
    """Append-only quarantine for poison rows (reference S11:
    Event_Log_Final_Errors, transfer_thread.rb:468-491) with
    retry bookkeeping (S7/ST5: retry_count, exponential backoff).

    Backed by an epoch-fenced UnkeyedEventLog: the append commits
    atomically per (stream_id, epoch_id), so a replayed Structured
    Streaming epoch is a metadata no-op — quarantine rows are written
    exactly once even though the append runs BEFORE the merge commit
    (the crash window between the two stays loss-free AND
    duplicate-free)."""

    def __init__(self, spark, path: str, fs=None):
        from movex_cdc_spark.lake.append_log import UnkeyedEventLog

        self.spark = spark
        self.path = path
        self.log = UnkeyedEventLog.open(spark, path, fs=fs)

    def append(self, poison: DataFrame, stream_id: str, epoch_id: int | None) -> int:
        # an all-null event column keeps its event type: the log leaves an
        # untyped column out, and RetryWorker re-validates on content/op
        cols = {f.name: ident(f.name) for f in poison.schema.fields}
        for f in poison.schema.fields:
            if isinstance(f.dataType, T.NullType) and f.name in EVENTS_SCHEMA.fieldNames():
                cols[f.name] = cast(ident(f.name), EVENTS_SCHEMA[f.name].dataType)
        cols.update(retry_count="0", last_error_time="current_timestamp()",
                    stream_id=literal(stream_id), epoch_id=cast(literal(epoch_id), T.LongType()))
        obs = Observation(f"dl_{stream_id}_{epoch_id}_{time.monotonic_ns()}")
        out = select_sql(poison, [f"{sql} AS {ident(n)}" for n, sql in cols.items()]).observe(
            obs, F.expr("count(1) AS n"))
        lineage = self.log.append(out, stream_id=stream_id, epoch_id=epoch_id)
        if lineage.get("skipped"):
            return 0  # fenced replay: rows already quarantined
        return int(obs.get.get("n", 0))

    def replace(self, df: DataFrame, m: dict[str, Any]) -> None:
        """Atomic rewrite for the retry pass (healed rows out,
        still-poison rows back with retry_count+1) of the rows read from
        metadata ``m``; rows appended since stay (``UnkeyedEventLog.replace``)."""
        self.log.replace(df, m)

    def read(self, m: dict[str, Any] | None = None) -> DataFrame:
        df = self.log.read(m)
        if not df.columns:
            return None  # nothing dead-lettered yet
        return df

    def retry_eligible(self, start_delay_s: int = 20) -> DataFrame:
        """Rows due for retry now (``backoff_elapsed``)."""
        df = self.read()
        if df is None:
            return None
        return df.filter(backoff_elapsed(pinned_now(self.spark), start_delay_s))
