"""Event-time streaming: watermarked windowed aggregation and a custom
stateful operator (applyInPandasWithState).

The CDC core deliberately needs no event-time watermark — LWW by seq is
order-insensitive and cross-batch ordering is the merge fence (SURVEY
ST3/ST4). These operators cover the OTHER half of a training-data
pipeline: analytics over the event stream itself, where event-time
windows and per-key session state are the point.

  * streaming_hourly_stats — the A3 statistics rollup as a TRUE
    streaming aggregation: watermark bounds state and admits late rows
    up to the slack; append mode emits each window once, when the
    watermark passes it. State per partial window lives in the state
    store, sized by (windows in flight × groups), independent of stream
    length — the property that matters at 10^10 events.
  * gap_sessionize_stateful — gap-based sessionization as
    applyInPandasWithState: per-key state is (session ordinal, last
    timestamp, running aggregates), carried across micro-batches via
    the checkpointed state store; a session is emitted exactly once,
    when its closing gap is observed. Arrow-batched — the Python hook
    sees pandas frames per key group, never row-at-a-time.
"""

from __future__ import annotations

import functools
from typing import Any, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SESSION_GAP_S = 3600
SESSION_GAP_US = SESSION_GAP_S * 1_000_000

SESSION_OUTPUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_id", T.LongType()),
        T.StructField("events_in_session", T.LongType()),
        T.StructField("first_seq", T.LongType()),
        T.StructField("last_seq", T.LongType()),
    ]
)

# NOTE (state-store compatibility): round 3 changed this schema —
# `last_ts` DoubleType (float seconds) became `last_ts_us` LongType
# (integer microseconds, for exact gap arithmetic). Spark's state store
# pins the state schema at checkpoint creation: resuming a sessionizer
# checkpoint written under the OLD schema fails the state-schema
# compatibility check (or would misread carried bytes). There is no
# in-place migration path for applyInPandasWithState state — restart
# such streams with a FRESH checkpoint dir; the source replays from the
# log and the fenced sink (lake/table.py epoch fence) makes the replay
# exactly-once, so no output is lost or duplicated.
SESSION_STATE = T.StructType(
    [
        T.StructField("session_id", T.LongType()),
        T.StructField("last_ts_us", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("first_seq", T.LongType()),
        T.StructField("last_seq", T.LongType()),
    ]
)


def streaming_hourly_stats(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    schema: T.StructType,
    watermark: str = "2 hours",
    window: str = "1 hour",
    max_files_per_trigger: int | None = None,
):
    """Watermarked tumbling-window stats over the event stream, append
    mode: each (window, event_type) row is written exactly once, after
    the watermark passes the window end. Late rows inside the watermark
    slack still count; later ones are dropped by design (the documented
    late-data contract). ``value`` is summed as DECIMAL(18,2) so the
    result is exact and aggregation-order-independent (the repo's
    money-sum parity discipline) — a float sum over a shuffled stream
    is not reproducible bit-for-bit."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    ev = reader.parquet(events_dir)
    agg = (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_value"),
            F.max("event_id").alias("max_seq"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type",
                "events",
                F.round(F.col("sum_value"), 2).cast("double").alias("sum_value"),
                "max_seq")
    )
    return (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _sessionize_group_impl(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
    idle_timeout_s: int | None,
) -> Iterator[pd.DataFrame]:
    """Per-user gap sessionizer. State carries the OPEN session across
    micro-batches; closed sessions are emitted exactly once. With
    ``idle_timeout_s`` set (event-time timeout), a key whose watermark
    passes last_ts + timeout FLUSHES its open session and clears its
    state — the 100-TB guard: state size tracks ACTIVE keys, not every
    key ever seen. The deliberate trade: a key that RETURNS after a
    timeout flush restarts session_id at 0 (remembering the next id
    would mean keeping per-key state forever, defeating the bound), so
    with idle_timeout (user_id, session_id) is unique only per state
    incarnation — downstream should key on (user_id, first_seq), which
    is globally unique because event ids are.

    All per-row work is vectorized numpy over the Arrow batch: one
    global sort by (ts, event_id) — the same total order the SQL
    sessionizer uses, so equal timestamps break ties identically —
    then a diff/flatnonzero pass that finds session boundaries; the
    Python loop below runs once per SESSION in the batch, never per
    row. Gaps compare integer MICROSECONDS (Spark's native timestamp
    resolution), not float seconds, so a gap of exactly the threshold
    can never flip on float rounding."""
    (user_id,) = key
    if state.exists:
        session_id, last_ts_us, n, first_seq, last_seq = state.get
    else:
        session_id, last_ts_us, n, first_seq, last_seq = 0, None, 0, None, None
    if getattr(state, "hasTimedOut", False):
        # idle key: flush the open session exactly once, drop the state
        state.remove()
        if last_ts_us is not None:
            yield pd.DataFrame(
                [(user_id, session_id, n, first_seq, last_seq)],
                columns=["user_id", "session_id", "events_in_session",
                         "first_seq", "last_seq"],
            )
        return
    chunks = [p for p in pdfs if len(p)]
    if not chunks:
        if state.exists:
            state.update((session_id, last_ts_us, n, first_seq, last_seq))
            if idle_timeout_s is not None:
                _arm_timeout(state, last_ts_us, idle_timeout_s)
        return
    # Arrow may deliver the group as SEVERAL chunks; rows of one user
    # can span them, so the sort must be global over the whole batch.
    pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
    pdf = pdf.sort_values(["ts", "event_id"], ignore_index=True)
    # pandas 2 keeps Arrow's microsecond resolution, where astype(int64)
    # yields MICROS — normalize to [ns] first, then integer-divide.
    ts_us = (
        pd.to_datetime(pdf["ts"]).astype("datetime64[ns]").astype("int64") // 1000
    ).to_numpy()
    seq = pdf["event_id"].astype("int64").to_numpy()
    if last_ts_us is not None and int(ts_us[0]) < int(last_ts_us):
        # Cross-batch ordering contract, asserted loud: each batch must
        # start at-or-after the carried open session's last event. A
        # file-layout change that breaks time ordering fails here
        # instead of silently mis-sessionizing.
        raise ValueError(
            f"gap_sessionize_stateful: out-of-order batch for user {user_id}: "
            f"batch min ts {int(ts_us[0])}us < carried last ts {int(last_ts_us)}us"
        )
    starts_new = np.empty(len(ts_us), dtype=bool)
    starts_new[0] = False
    np.greater(ts_us[1:] - ts_us[:-1], SESSION_GAP_US, out=starts_new[1:])
    bounds = np.unique(np.concatenate((np.flatnonzero(starts_new), [0, len(ts_us)])))
    out_rows: list[tuple] = []
    if last_ts_us is not None and int(ts_us[0]) - int(last_ts_us) > SESSION_GAP_US:
        # the carried open session closes on the batch's first row
        out_rows.append((user_id, session_id, n, first_seq, last_seq))
        session_id, n, first_seq = session_id + 1, 0, None
    n_runs = len(bounds) - 1
    for i in range(n_runs):  # one iteration per session, not per row
        lo, hi = int(bounds[i]), int(bounds[i + 1])
        if i == 0:
            n += hi - lo
            if first_seq is None:
                first_seq = int(seq[lo])
        else:
            session_id += 1
            n = hi - lo
            first_seq = int(seq[lo])
        last_seq = int(seq[hi - 1])
        last_ts_us = int(ts_us[hi - 1])
        if i < n_runs - 1:
            out_rows.append((user_id, session_id, n, first_seq, last_seq))
    state.update((int(session_id), int(last_ts_us), int(n), int(first_seq), int(last_seq)))
    if idle_timeout_s is not None:
        _arm_timeout(state, int(last_ts_us), idle_timeout_s)
    if out_rows:
        yield pd.DataFrame(
            out_rows, columns=["user_id", "session_id", "events_in_session",
                               "first_seq", "last_seq"]
        )


def _arm_timeout(state: GroupState, last_ts_us: int, idle_timeout_s: int) -> None:
    """Event-time timeout at last event + idle window; Spark requires a
    timestamp strictly beyond the current watermark, so clamp up when
    the key is already stale at arming time (it then times out on the
    next trigger)."""
    want_ms = last_ts_us // 1000 + idle_timeout_s * 1000
    wm_ms = state.getCurrentWatermarkMs()
    state.setTimeoutTimestamp(max(want_ms, wm_ms + 1))


def dedup_stream_within_watermark(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    schema: T.StructType,
    within: str = "2 hours",
    key_cols: list[str] | None = None,
    max_files_per_trigger: int | None = None,
):
    """Streaming exactly-once-by-id dedup over an at-least-once feed:
    ``dropDuplicatesWithinWatermark`` keyed on the event id. The dedup
    state holds only ids whose event time is within the watermark slack
    — the 100-TB guard: state is bounded by (arrival rate × slack), not
    by the all-time id universe, which is what makes id-dedup feasible
    on an unbounded stream. Duplicates must arrive within ``within``
    event-time of the original (the at-least-once transport's redelivery
    window); anything later is outside the contract by design.

    This is the consumer-side guard the reference's producer contract
    implies: Kafka delivery is at-least-once around worker crashes
    (transfer_thread.rb:171-177 commit-then-delete hazard), so exactly-
    once consumption requires id-dedup within a bounded redelivery
    window."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    ev = reader.parquet(events_dir).withWatermark("ts", within)
    deduped = ev.dropDuplicatesWithinWatermark(key_cols or ["event_id"])
    return (
        deduped.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def sessionize_sql_closed(ev: DataFrame) -> DataFrame:
    """The SQL-window twin of the stateful sessionizer, with IDENTICAL
    output semantics: sort per user by (ts, event_id), split on gap >
    SESSION_GAP_S (integer-microsecond compare), 0-based session ids,
    and emit ONLY closed sessions — each user's final session is still
    open when a bounded input ends, exactly as the stateful operator
    withholds it. Whole-stage-codegen window functions, no per-group
    Python dispatch — this is what makes it the fast path for bounded
    small-group backfills (see sessionize_backfill)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_us = (F.unix_micros(F.col("ts"))).alias("__ts_us")
    d = ev.select("user_id", "event_id", "ts", ts_us).withColumn(
        "new_session",
        F.when(
            F.lag("__ts_us").over(w).isNull()
            | ((F.col("__ts_us") - F.lag("__ts_us").over(w)) > F.lit(SESSION_GAP_US)),
            1,
        ).otherwise(0),
    )
    s = d.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)) - 1,
    )
    # first/last_seq follow the stateful twin's contract exactly: the
    # event id of the FIRST/LAST row in (ts, event_id) order — NOT
    # min/max(event_id), which diverges when ids are not time-monotone
    # within a session (they need not be: ids are global, time is
    # per-user)
    order = F.struct("__ts_us", "event_id")
    agg = s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("events_in_session"),
        F.min_by("event_id", order).alias("first_seq"),
        F.max_by("event_id", order).alias("last_seq"),
    )
    wmax = Window.partitionBy("user_id")
    return (
        agg.withColumn("__max_sid", F.max("session_id").over(wmax))
        .filter(F.col("session_id") < F.col("__max_sid"))
        .drop("__max_sid")
        .select("user_id", "session_id", "events_in_session", "first_seq", "last_seq")
    )


def sessionize_backfill(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    schema: T.StructType,
    events_per_key_threshold: float = 32.0,
    max_files_per_trigger: int | None = None,
) -> dict:
    """Bounded-backfill sessionization with measured-cost routing
    (VERDICT r04 item 8). The stateful operator pays a fixed
    per-(key, trigger) Python hook dispatch — adjudicated at ~14k ev/s
    when groups are tiny (8 ev/key, BENCH_SCALING.md) while the SQL
    window plan computes the IDENTICAL closed-session answer in
    whole-stage codegen at full throughput. For an unbounded stream the
    stateful path is the only correct one (state across triggers); for
    a bounded Trigger.AvailableNow backfill both are correct, so route
    on the measured events/key of the input:

      events/key ≤ threshold  → SQL window plan (one extra cheap agg
                                 over the input to measure; then one
                                 windowed pass, closed sessions only)
      events/key > threshold  → stateful streaming path (hook dispatch
                                 amortized across big groups)

    The default threshold is measured, not guessed (`bench.py
    --route-ab`, BENCH_SCALING.md r5): at 8 ev/key the SQL path wins
    ~6.5× (2.0 s vs 13.1 s over 400k events); at 64 ev/key the gap
    narrows at this volume and closes at production volumes (4M events
    / 80 ev/key: 240-300k ev/s stateful, r4), where bounded state and
    checkpoint-resume also start to matter. 32 is the conservative
    midpoint: route the cases where the win is biggest, keep the
    checkpointable stateful path everywhere else. Returns
    {"path": "sql"|"stateful", "events": n, "keys": k}."""
    ev = spark.read.schema(schema).parquet(events_dir)
    row = ev.agg(
        F.count(F.lit(1)).alias("n"), F.approx_count_distinct("user_id").alias("k")
    ).first()
    n, k = int(row["n"]), max(int(row["k"]), 1)
    if n / k <= events_per_key_threshold:
        # overwrite = the idempotent choice for a bounded recompute: a
        # crashed or retried backfill rewrites the same deterministic
        # result instead of appending duplicates (the stateful route
        # gets the same property from its checkpoint; out_dir is owned
        # by this backfill either way)
        sessionize_sql_closed(ev).write.parquet(out_dir, mode="overwrite")
        return {"path": "sql", "events": n, "keys": k}
    # Stateful route appends through the streaming sink's _spark_metadata
    # commit log — it never clears out_dir itself. If a PRIOR run took
    # the SQL route (overwrite) and input growth flipped the route, those
    # SQL files would sit alongside the streamed files as duplicate
    # session rows. Mirror the SQL route's overwrite semantics: a resume
    # is ONLY the matched PAIR (out_dir _spark_metadata + the checkpoint
    # that produced it) — keep both halves so the resume stays
    # exactly-once. Any mismatched half means recompute, so clear BOTH:
    #   * sink metadata without a checkpoint (a rerun pointed a FRESH
    #     checkpoint at an old out_dir): the query renumbers batches
    #     from 0 and FileStreamSink dedups on batch id, silently
    #     skipping every already-committed id — the grown input's
    #     sessions would never be written;
    #   * checkpoint without sink metadata (the sql→stateful→back
    #     flip): a fully-committed query resumes over an empty out_dir
    #     and emits nothing, losing the whole backfill.
    import os

    from movex_cdc_spark.lake.fs import fs_for

    _ofs, _cfs = fs_for(out_dir, spark), fs_for(checkpoint_dir, spark)
    resumable = _ofs.isdir(os.path.join(out_dir, "_spark_metadata")) and _cfs.isdir(
        os.path.join(checkpoint_dir, "offsets")
    )
    if not resumable:
        if _ofs.exists(out_dir):
            _ofs.rmtree(out_dir)
        if _cfs.exists(checkpoint_dir):
            _cfs.rmtree(checkpoint_dir)
    q = gap_sessionize_stateful(
        spark, events_dir, checkpoint_dir, out_dir, schema,
        max_files_per_trigger=max_files_per_trigger,
    )
    q.awaitTermination()
    return {"path": "stateful", "events": n, "keys": k}


def _guard_state_schema(
    checkpoint_dir: str, state_schema: T.StructType, spark: SparkSession | None = None
) -> None:
    """Startup guard for the state-schema migration note above: the
    engine stamps every sessionizer checkpoint with its state schema
    (``_movex_state_schema.json``); on resume a mismatch — or a
    pre-guard checkpoint that already carries state but no stamp —
    fails FAST with the documented remedy instead of surfacing Spark's
    opaque state-compat error (or worse, misreading carried bytes).
    The remedy is safe by construction: the source replays from the log
    and the fenced sink makes the replay exactly-once."""
    import json
    import os

    from movex_cdc_spark.lake.fs import fs_for

    fs = fs_for(checkpoint_dir, spark)
    remedy = (
        "restart the stream with a FRESH checkpoint dir — the source "
        "replays from the log and the epoch-fenced sink makes the "
        "replay exactly-once, so no output is lost or duplicated "
        "(movex_cdc_spark/streaming/windows.py state-schema note)"
    )
    stamp = os.path.join(checkpoint_dir, "_movex_state_schema.json")
    want = state_schema.jsonValue()
    if fs.exists(stamp):
        have = json.loads(fs.read_text(stamp))
        if have != want:
            raise RuntimeError(
                f"sessionizer checkpoint {checkpoint_dir} was created under a "
                f"DIFFERENT state schema ({have}) than this engine version uses "
                f"({want}); there is no in-place migration for "
                f"applyInPandasWithState state — {remedy}"
            )
        return
    if fs.isdir(os.path.join(checkpoint_dir, "state")):
        raise RuntimeError(
            f"sessionizer checkpoint {checkpoint_dir} carries state but no "
            f"engine schema stamp (written by a pre-guard engine version); "
            f"its state schema cannot be validated — {remedy}"
        )
    fs.makedirs(checkpoint_dir, exist_ok=True)
    fs.replace_text(stamp, json.dumps(want))


def gap_sessionize_stateful(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    schema: T.StructType,
    max_files_per_trigger: int | None = None,
    idle_timeout_s: int | None = None,
):
    """Custom stateful streaming operator: per-key session state via
    applyInPandasWithState, checkpointed across micro-batches. Events
    must arrive per key in event-time order ACROSS batches (within a
    batch any order is fine — the hook sorts globally). The file
    stream's offset order over time-ordered files provides this — the
    same relaxed contract the reference's per-key worker affinity
    gives — and the hook ASSERTS it per batch: a layout change that
    delivers a batch older than the carried state fails loud instead
    of silently mis-sessionizing.

    ``idle_timeout_s``: event-time state timeout — when the watermark
    passes a key's last event + timeout, its open session is flushed
    and the state dropped. At 10^10 keys this is what keeps the state
    store sized by ACTIVE keys; without it (default), open sessions
    are carried forever (the registered oracle row uses the default,
    whose 'last session stays open' contract is SQL-mirrorable)."""
    _guard_state_schema(checkpoint_dir, SESSION_STATE, spark)
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    ev = reader.parquet(events_dir)
    if idle_timeout_s is not None:
        ev = ev.withWatermark("ts", f"{idle_timeout_s} seconds")
    sessions = ev.groupBy("user_id").applyInPandasWithState(
        # the hook signature is fixed by applyInPandasWithState
        functools.partial(_sessionize_group_impl, idle_timeout_s=idle_timeout_s),
        outputStructType=SESSION_OUTPUT,
        stateStructType=SESSION_STATE,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.EventTimeTimeout
            if idle_timeout_s is not None
            else GroupStateTimeout.NoTimeout
        ),
    )
    return (
        sessions.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
