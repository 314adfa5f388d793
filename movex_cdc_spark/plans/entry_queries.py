"""Driver-contract queries: each SURVEY §2 operator expressed over the
shared testdata tables, with a DuckDB oracle SQL string.

The `events` table plays the change-event log (the Event_Logs analog):
key = user_id, seq = event_id, op derived from event_type
(signup→I, click/view/purchase→U, error→D). TPC-H-ish tables cover the
join/agg/sort operator families; documents/embeddings cover the
training-data pipeline operators.

Every computed column is aliased identically in the Spark plan and the
oracle SQL (the driver hash-compares by sorted column name). Floating
aggregates are computed over DECIMAL and rounded in BOTH engines so
summation order can't skew the hash.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

# name -> (spark_fn, oracle_sql | None)
REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], Optional[str]]] = {}


def register(name: str, oracle: str | None):
    def deco(fn):
        REGISTRY[name] = (fn, oracle)
        return fn

    return deco


# Tables whose scans feed heavy PER-ROW compute (shingling, hashing,
# vector folds). The testdata files are single-row-group parquet, so
# the scan — and EVERYTHING upstream of the first exchange — runs as
# ONE task no matter how many cores the session has (a byte-range
# split with no row-group start reads nothing). fan_out() is the guide
# §2.5 unsplittable-input fix: repartition right after the read, but
# ONLY when the scan is under-parallel (at production scale the scan
# has >= cores partitions and this is a no-op — nothing is shuffled).
# Measured per query (r8, same-session A/B ×3): documents/embeddings
# queries win (text battery 2.0 -> 0.5 s first-run, ann_cosine 1.37 ->
# 0.95, minhash 4.9 -> 2.9); lineitem/orders/events queries LOSE (the
# exchange costs more than the single-task scan of a thin projection
# feeding a shuffle anyway: cdc_lww 0.44 -> 1.2 s warm), so those
# tables are deliberately NOT in this set. Dimension tables stay out
# too: they are broadcast sides and a pre-broadcast exchange is loss.
_FANOUT_TABLES = {"documents": "doc_id", "embeddings": "vec_id"}


def fan_out(df: DataFrame, key: str) -> DataFrame:
    """Hash-repartition to session parallelism IFF the frame is
    currently under-parallel (fewer partitions than cores). Hash on
    xxhash64 of the table's unique id rather than round-robin: keyless
    repartition(n) pays a local sort of its input for retry
    determinism (spark.sql.execution.sortBeforeRepartition, guide
    §2.5) — a deterministic hash key needs no sort and measured
    faster on every fanned-out query. Hashing a SINGLE always-used id
    column (not all columns) keeps column pruning intact: xxhash64 of
    the full row forced every scan to read every column (ReadSchema
    regression caught by tools/plan_audit.py). The id is unique, so
    the hash spreads uniformly. Row distribution only — results are
    unchanged."""
    spark = df.sparkSession
    p = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < p:
        return df.repartition(p, F.xxhash64(F.col(key)))
    return df


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    # Pin the session timezone so timestamp_ntz -> timestamp casts are an
    # exact reinterpretation regardless of the host's zone; epoch_us()
    # parity with DuckDB depends on it.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    key = _FANOUT_TABLES.get(table)
    if key is not None:
        df = fan_out(df, key)
    return df


def epoch_us(col) -> "F.Column":
    """Integer microseconds since epoch for a (possibly ntz) timestamp
    column — bit-exact with DuckDB ``epoch_us(ts)`` on naive timestamps
    (load() pins the session tz to UTC so the ntz->ltz cast is a pure
    reinterpretation). Integer math: no float rounding at comparison
    boundaries, unlike unix_timestamp (second-truncating) or epoch()
    (fractional double)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(c.cast("timestamp"))


# CDC op derivation shared by the event-log queries
OP_CASE_SQL = "CASE event_type WHEN 'signup' THEN 'I' WHEN 'error' THEN 'D' ELSE 'U' END"


def _with_op(df: DataFrame) -> DataFrame:
    return df.withColumn("op", F.expr(OP_CASE_SQL))


# ------------------------------------- engine-in-the-loop query staging
# The ENGINE-IN-THE-LOOP queries drive the real LakeTable, pipelines and
# sinks; what they stage alike lives here.

CONTENT_SQL = "concat_ws(':', event_type, CAST(value AS STRING))"

# the sf `events` file schema, for the file-stream queries
EVENTS_FILE_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def _change_stream(spark, sf_dir, *extra, content: str = CONTENT_SQL) -> DataFrame:
    """The events table as a change stream on the (repo, path) lake key:
    user_id -> repo, path 'state', event_id -> seq, OP_CASE_SQL -> op and
    the ``content`` SQL (event_type:value by default), then ``extra``."""
    return load(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("repo"),
        F.lit("state").alias("path"),
        F.col("event_id").alias("seq"),
        F.expr(OP_CASE_SQL).alias("op"),
        F.expr(content).alias("content"),
        *extra,
    )


def _epochs(df: DataFrame, n: int) -> list[DataFrame]:
    """The ``n`` epoch slices of a change stream, split by seq mod n:
    each holds an arbitrary part of a key's events, so per-key order
    across epochs is NOT arrival order."""
    return [df.filter(F.pmod(F.col("seq"), F.lit(n)) == i) for i in range(n)]


def _envelope_cols() -> list:
    """The payload columns an envelope carries beyond the change stream:
    no commit, lang or old image, the event time and one transaction id
    per 100 events."""
    return [F.lit(None).cast("string").alias(c) for c in ("commit", "lang", "old_content")] + [
        F.col("ts").cast("timestamp").alias("ts"),
        (F.col("event_id") / 100).cast("long").alias("txid"),
    ]


@functools.cache
def _scratch_root() -> str:
    # removed at interpreter exit, not earlier: a query returns a lazy
    # frame over the files it staged
    root = tempfile.mkdtemp(prefix="movex_entry_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


def _scratch_dir(prefix: str) -> str:
    """A fresh dir for one query's lakes, checkpoints and outputs, under
    the one scratch root of this process."""
    return tempfile.mkdtemp(prefix=prefix, dir=_scratch_root())


def _lake_table(spark, path: str, *payload: str, **typed):
    """A fresh LakeTable at ``path`` keyed on (repo, path) with 8
    buckets; its payload is the string columns ``payload``, then the
    ``typed`` ones (name -> DataType)."""
    from movex_cdc_spark.lake.table import LakeTable

    fields = [T.StructField(c, T.StringType()) for c in ("repo", "path", *payload)]
    fields += [T.StructField(c, t) for c, t in typed.items()]
    return LakeTable.create(spark, path, T.StructType(fields), ["repo", "path"], n_buckets=8)


def _time_ordered_thirds(sf_dir: str) -> list:
    """The events file as three pandas parts in (ts, event_id) order."""
    import pandas as pd

    pdf = pd.read_parquet(f"{sf_dir}/events.parquet").sort_values(
        ["ts", "event_id"], ignore_index=True
    )
    cuts = [0, len(pdf) // 3, 2 * len(pdf) // 3, len(pdf)]
    return [pdf.iloc[cuts[i]:cuts[i + 1]] for i in range(3)]


def _stage_triggers(d: str, chunks) -> str:
    """Write each pandas chunk as one parquet file into ``d`` with
    ascending mtimes: a file stream at maxFilesPerTrigger=1 reads one
    chunk per trigger, in this order."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(d)
    for i, chunk in enumerate(chunks):
        p = os.path.join(d, f"ev-{i:03d}.parquet")
        pq.write_table(
            pa.Table.from_pandas(chunk, preserve_index=False), p,
            coerce_timestamps="us", allow_truncated_timestamps=True,
        )
        os.utime(p, (1_000_000_000 + i, 1_000_000_000 + i))
    return d


def _drain(q, what: str) -> None:
    """Wait for an availableNow query to finish; stop it and fail after
    600 s."""
    if not q.awaitTermination(600):
        q.stop()
        raise TimeoutError(f"{what} did not finish within 600s")


# --------------------------------------------------------------- W3: LWW
@register(
    "cdc_lww_latest_state",
    f"""
    WITH ranked AS (
      SELECT user_id, event_id, event_type, value, ts,
             row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
      FROM events)
    SELECT user_id, event_id AS last_seq, event_type AS last_event_type,
           value AS last_value, ts AS last_ts
    FROM ranked WHERE rn = 1
    """,
)
def cdc_lww_latest_state(spark, sf_dir):
    """Last-writer-wins per key by sequence (SURVEY W3; engine core).

    Reference semantics: per-key ordered replay keeps only the newest
    image (kafka_mock.rb:49-63 ordering contract)."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("event_id").desc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_seq"),
            F.col("event_type").alias("last_event_type"),
            F.col("value").alias("last_value"),
            F.col("ts").alias("last_ts"),
        )
    )


@register(
    "cdc_salted_lww_two_phase",
    f"""
    WITH ranked AS (
      SELECT user_id, event_id,
             row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
      FROM events)
    SELECT user_id, event_id AS last_seq FROM ranked WHERE rn = 1
    """,
)
def cdc_salted_lww_two_phase(spark, sf_dir):
    """Salted two-phase LWW (SURVEY A7, north rule hot-key handling):
    phase 1 locally combines within (key, salt), phase 2 merges across
    salts. Same answer as plain LWW — that equivalence (associativity
    of max-by-seq) is exactly what the oracle checks."""
    from movex_cdc_spark.operators.lww import lww_dedup_salted

    ev = load(spark, sf_dir, "events")
    return lww_dedup_salted(ev, ["user_id"], seq_col="event_id", salt_buckets=8).select(
        "user_id", F.col("event_id").alias("last_seq")
    )


# ------------------------------------------------- replay to final state
@register(
    "cdc_apply_final_state",
    f"""
    WITH tagged AS (
      SELECT *, {OP_CASE_SQL} AS op FROM events),
    ranked AS (
      SELECT user_id, event_id, op, event_type, value,
             row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
      FROM tagged)
    SELECT user_id, event_id AS last_seq, event_type AS last_event_type,
           value AS last_value
    FROM ranked WHERE rn = 1 AND op <> 'D'
    """,
)
def cdc_apply_final_state(spark, sf_dir):
    """Replay-to-final-state (MERGE semantics, SURVEY §2.3 MERGE):
    LWW per key, delete wins if newest — the materialized equivalent of
    ordered per-key replay with WHEN MATCHED/NOT MATCHED rules."""
    ev = _with_op(load(spark, sf_dir, "events"))
    w = Window.partitionBy("user_id").orderBy(F.col("event_id").desc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "D"))
        .select(
            "user_id",
            F.col("event_id").alias("last_seq"),
            F.col("event_type").alias("last_event_type"),
            F.col("value").alias("last_value"),
        )
    )


# -------------------------------------------- P4: no-op change suppression
@register(
    "cdc_noop_suppression",
    """
    WITH lagged AS (
      SELECT event_id, user_id, value,
             lag(value) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_value
      FROM events)
    SELECT event_id, user_id, value
    FROM lagged
    WHERE prev_value IS NULL OR value IS DISTINCT FROM prev_value
    """,
)
def cdc_noop_suppression(spark, sf_dir):
    """No-op-update suppression (SURVEY P4): drop an event whose
    tracked payload equals the previous image, null-safe (reference
    pairwise old/new compare, db_trigger_generator_oracle.rb:802-823)."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    lagged = ev.withColumn("prev_value", F.lag("value").over(w))
    return lagged.filter(
        F.col("prev_value").isNull() | ~F.col("value").eqNullSafe(F.col("prev_value"))
    ).select("event_id", "user_id", "value")


# ------------------------------------------------- A1: statistics counters
@register(
    "cdc_stats_counters",
    f"""
    SELECT {OP_CASE_SQL} AS op, event_type,
           count(*) AS events,
           round(sum(value::DECIMAL(18,2)), 2)::DOUBLE AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def cdc_stats_counters(spark, sf_dir):
    """Per-(operation, type) throughput counters (SURVEY A1; reference
    statistic_counter.rb:14-48 two-phase combine = Spark partial agg)."""
    ev = _with_op(load(spark, sf_dir, "events"))
    return ev.groupBy("op", "event_type").agg(
        F.count(F.lit(1)).alias("events"),
        F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2).cast("double").alias("sum_value"),
    )


# --------------------------------------------- A3: time-rollup compression
@register(
    "cdc_stats_rollup_hourly",
    f"""
    SELECT date_trunc('hour', ts) AS hour, {OP_CASE_SQL} AS op,
           count(*) AS events,
           round(sum(value::DECIMAL(18,2)), 2)::DOUBLE AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def cdc_stats_rollup_hourly(spark, sf_dir):
    """Statistics compression to hourly grain (SURVEY A3; reference
    compress_statistics.rb:26-59) — one tumbling-window shuffle, not a
    20000-group-per-pass loop."""
    ev = _with_op(load(spark, sf_dir, "events"))
    return ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "op"
    ).agg(
        F.count(F.lit(1)).alias("events"),
        F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2).cast("double").alias("sum_value"),
    )


# ------------------------------------------------ A4: min/max/count health
@register(
    "cdc_minmax_health",
    """
    SELECT count(*) AS n_events, min(event_id) AS min_seq, max(event_id) AS max_seq,
           min(ts) AS min_ts, max(ts) AS max_ts,
           count(DISTINCT user_id) AS n_keys
    FROM events
    """,
)
def cdc_minmax_health(spark, sf_dir):
    """Queue health stats (SURVEY A4; reference event_log.rb:102-134)."""
    ev = load(spark, sf_dir, "events")
    return ev.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("event_id").alias("min_seq"),
        F.max("event_id").alias("max_seq"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
        F.countDistinct("user_id").alias("n_keys"),
    )


# --------------------------------------------- S7/ST5: retry backoff filter
@register(
    "cdc_retry_backoff_eligible",
    """
    WITH sim AS (
      SELECT event_id, user_id, ts, (event_id % 6) AS retry_count FROM events),
    bound AS (SELECT max(epoch_us(ts)) AS now_us FROM events)
    SELECT event_id, user_id, retry_count
    FROM sim, bound
    WHERE retry_count = 0
       OR epoch_us(ts) + 20000000 * power(3, retry_count - 1) < now_us
    """,
)
def cdc_retry_backoff_eligible(spark, sf_dir):
    """Exponential retry backoff eligibility (SURVEY S7/ST5; reference
    Retry_Count=0 OR Last_Error_Time + start_delay*3^(retry-1) < now,
    transfer_thread.rb:358-371). retry_count simulated as seq % 6."""
    ev = load(spark, sf_dir, "events").withColumn(
        "retry_count", F.col("event_id") % 6
    )
    # global scalar via broadcast cross-join — stays lazy, no driver
    # round-trip mid-plan; integer-microsecond epoch matches DuckDB
    # epoch_us() exactly (no truncation/rounding at the boundary)
    bound = ev.agg(F.max(epoch_us("ts")).alias("now_us"))
    return (
        ev.crossJoin(F.broadcast(bound))
        .filter(
            (F.col("retry_count") == 0)
            | (epoch_us("ts") + 20000000 * F.pow(F.lit(3), F.col("retry_count") - 1)
               < F.col("now_us"))
        )
        .select("event_id", "user_id", "retry_count")
    )


# -------------------------------------------------- S4: keyed worker slice
@register(
    "cdc_keyed_slice",
    """
    SELECT user_id, count(*) AS events, min(event_id) AS min_seq, max(event_id) AS max_seq
    FROM events WHERE (user_id % 8) = 3 GROUP BY user_id
    """,
)
def cdc_keyed_slice(spark, sf_dir):
    """Worker key-affinity slice (SURVEY S4; reference
    MOD(ORA_HASH(Msg_Key,1e6), workers) = :worker_id,
    transfer_thread.rb:239-242). Arithmetic mod here so the oracle can
    reproduce it; the engine's real slicing is the hash-bucket shuffle."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.filter(F.col("user_id") % 8 == 3)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("events"),
            F.min("event_id").alias("min_seq"),
            F.max("event_id").alias("max_seq"),
        )
    )


# ------------------------------------------- W2: per-key ordering invariant
@register(
    "cdc_per_key_order_stats",
    """
    WITH d AS (
      SELECT user_id, event_id,
             event_id - lag(event_id) OVER (PARTITION BY user_id ORDER BY event_id) AS gap
      FROM events)
    SELECT user_id, count(*) AS n, min(gap) AS min_gap, max(gap) AS max_gap
    FROM d WHERE gap IS NOT NULL GROUP BY user_id
    """,
)
def cdc_per_key_order_stats(spark, sf_dir):
    """Per-key monotone delivery invariant stats (SURVEY W2; reference
    kafka_mock.rb:49-63 asserts ascending id per keyed message)."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    d = ev.withColumn("gap", F.col("event_id") - F.lag("event_id").over(w))
    return (
        d.filter(F.col("gap").isNotNull())
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.min("gap").alias("min_gap"), F.max("gap").alias("max_gap"))
    )


# =====================================================================
# Join / aggregation / sort operator families (SURVEY §2.3-2.7) over the
# TPC-H-ish tables. Money math is done on DECIMAL and rounded in both
# engines so summation order can't skew the comparison hash.
# =====================================================================

DEC = "decimal(18,2)"


@register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity::DECIMAL(18,2)), 2)::DOUBLE AS sum_qty,
           round(sum(l_extendedprice::DECIMAL(18,2)), 2)::DOUBLE AS sum_base_price,
           round(sum(l_extendedprice::DECIMAL(18,2) * (1 - l_discount::DECIMAL(18,2))), 2)::DOUBLE AS sum_disc_price,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: scan + filter + hash agg with partial combine
    (the canonical 'throughput counter' at analytics scale; SURVEY A1).
    Filter and column pruning push into the parquet scan."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "2001-09-01")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(F.col("l_quantity").cast(DEC)), 2).cast("double").alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice").cast(DEC)), 2).cast("double").alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice").cast(DEC) * (F.lit(1) - F.col("l_discount").cast(DEC))), 2
            ).cast("double").alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q3_top_revenue_orders",
    """
    SELECT o.o_orderkey,
           round(sum(l.l_extendedprice::DECIMAL(18,2) * (1 - l.l_discount::DECIMAL(18,2))), 2)::DOUBLE AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def q3_top_revenue_orders(spark, sf_dir):
    """TPC-H Q3 shape: selective dim filter -> join -> agg -> top-k.
    customer side is broadcast (small after the segment filter);
    deterministic tie-break on orderkey."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders")
    l = load(spark, sf_dir, "lineitem")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast(DEC) * (F.lit(1) - F.col("l_discount").cast(DEC))), 2
            ).cast("double").alias("revenue")
        )
        .select("o_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "o_orderkey")
        .limit(10)
    )


@register(
    "q5_revenue_by_nation",
    """
    SELECT n.n_name AS nation,
           round(sum(l.l_extendedprice::DECIMAL(18,2) * (1 - l.l_discount::DECIMAL(18,2))), 2)::DOUBLE AS revenue
    FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
                  JOIN customer c ON c.c_nationkey = n.n_nationkey
                  JOIN orders o ON o.o_custkey = c.c_custkey
                  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE r.r_name IN ('ASIA', 'EUROPE')
    GROUP BY n.n_name
    """,
)
def q5_revenue_by_nation(spark, sf_dir):
    """TPC-H Q5 shape: star join (fact ⋈ 4 dims). All dimension tables
    broadcast; the only shuffle left is the final groupBy — at 100 TB
    that is the plan you want (lineitem never re-partitions for joins)."""
    r = load(spark, sf_dir, "region").filter(F.col("r_name").isin("ASIA", "EUROPE"))
    n = load(spark, sf_dir, "nation")
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    l = load(spark, sf_dir, "lineitem")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast(DEC) * (F.lit(1) - F.col("l_discount").cast(DEC))), 2
            ).cast("double").alias("revenue")
        )
    )


@register(
    "join_anti_customers_without_orders",
    """
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def join_anti_customers_without_orders(spark, sf_dir):
    """Left-anti join (SURVEY J3/J6 composition: the allowed-tables
    outer-join+filter and the lock-exclusion anti-join)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@register(
    "join_semi_active_suppliers",
    """
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_suppkey = s.s_suppkey AND l.l_shipdate >= TIMESTAMP '2001-01-01 00:00:00')
    """,
)
def join_semi_active_suppliers(spark, sf_dir):
    """Left-semi join (SURVEY J3): suppliers with recent shipments."""
    s = load(spark, sf_dir, "supplier")
    l = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") >= "2001-01-01")
    return s.join(l, s.s_suppkey == l.l_suppkey, "left_semi").select("s_suppkey", "s_name")


@register(
    "join_multikey_config_assembly",
    """
    SELECT o.o_orderpriority, l.l_linestatus, count(*) AS n,
           round(sum(l.l_quantity::DECIMAL(18,2)), 2)::DOUBLE AS sum_qty
    FROM orders o JOIN lineitem l
      ON l.l_orderkey = o.o_orderkey AND l.l_linenumber <= 3
    GROUP BY o.o_orderpriority, l.l_linestatus
    """,
)
def join_multikey_config_assembly(spark, sf_dir):
    """Multi-predicate equi join + agg (SURVEY J2/J4: config assembly
    and PK-constraint joins)."""
    o = load(spark, sf_dir, "orders")
    l = load(spark, sf_dir, "lineitem")
    return (
        o.join(l, (l.l_orderkey == o.o_orderkey) & (l.l_linenumber <= 3))
        .groupBy("o_orderpriority", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("l_quantity").cast(DEC)), 2).cast("double").alias("sum_qty"),
        )
    )


@register(
    "window_topk_per_group",
    """
    WITH rev AS (
      SELECT p.p_brand, l.l_partkey,
             round(sum(l.l_extendedprice::DECIMAL(18,2)), 2)::DOUBLE AS part_revenue
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY p.p_brand, l.l_partkey),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY p_brand ORDER BY part_revenue DESC, l_partkey) AS rk
      FROM rev)
    SELECT p_brand, l_partkey, part_revenue, rk FROM ranked WHERE rk <= 3
    """,
)
def window_topk_per_group(spark, sf_dir):
    """Top-k per group via ranking window (SURVEY W5 KEEP DENSE_RANK
    analog; L-family sorts/limits). Deterministic tie-break on partkey."""
    l = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    rev = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_brand", "l_partkey")
        .agg(F.round(F.sum(F.col("l_extendedprice").cast(DEC)), 2).cast("double").alias("part_revenue"))
    )
    w = Window.partitionBy("p_brand").orderBy(F.col("part_revenue").desc(), F.col("l_partkey"))
    return rev.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 3)


@register(
    "set_union_operation_dimension",
    """
    SELECT op, count(*) AS n FROM (
      SELECT 'I' AS op FROM events WHERE event_type = 'signup'
      UNION ALL SELECT 'U' AS op FROM events WHERE event_type IN ('click','view','purchase')
      UNION ALL SELECT 'D' AS op FROM events WHERE event_type = 'error'
    ) GROUP BY op
    """,
)
def set_union_operation_dimension(spark, sf_dir):
    """UNION ALL synthesis of the I/U/D operation dimension (SURVEY
    §2.7; reference db_trigger_generator_oracle.rb:111-115)."""
    ev = load(spark, sf_dir, "events")
    i = ev.filter(F.col("event_type") == "signup").select(F.lit("I").alias("op"))
    u = ev.filter(F.col("event_type").isin("click", "view", "purchase")).select(F.lit("U").alias("op"))
    d = ev.filter(F.col("event_type") == "error").select(F.lit("D").alias("op"))
    return i.unionByName(u).unionByName(d).groupBy("op").agg(F.count(F.lit(1)).alias("n"))


@register(
    "scalar_function_battery",
    """
    SELECT p_partkey,
           upper(p_name) AS name_upper,
           substr(p_name, 1, 8) AS name_prefix,
           replace(p_type, ' ', '_') AS type_snake,
           length(p_name) AS name_len,
           strpos(p_name, 'a') AS first_a,
           trim(concat(' ', p_brand, ' ')) AS brand_trim,
           (p_size % 7) AS size_mod,
           round(power(p_size, 2), 0)::DOUBLE AS size_sq,
           round(p_retailprice::DECIMAL(18,2) * 110 / 100, 2)::DOUBLE AS price_with_tax,
           concat_ws('#', p_brand, p_type) AS brand_type
    FROM part WHERE p_partkey <= 500
    """,
)
def scalar_function_battery(spark, sf_dir):
    """Scalar string/math/conversion family (SURVEY §2.8): the Spark
    equivalents of the trigger generators' REPLACE/SUBSTR/INSTR/TRIM,
    MOD/POWER/TO_NUMBER and JSON value conversions."""
    p = load(spark, sf_dir, "part").filter(F.col("p_partkey") <= 500)
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.regexp_replace("p_type", " ", "_").alias("type_snake"),
        F.length("p_name").alias("name_len"),
        F.instr(F.col("p_name"), "a").alias("first_a"),
        F.trim(F.concat(F.lit(" "), F.col("p_brand"), F.lit(" "))).alias("brand_trim"),
        (F.col("p_size") % 7).alias("size_mod"),
        F.round(F.pow(F.col("p_size"), 2), 0).cast("double").alias("size_sq"),
        F.round(F.col("p_retailprice").cast(DEC) * 110 / 100, 2).cast("double").alias("price_with_tax"),
        F.concat_ws("#", "p_brand", "p_type").alias("brand_type"),
    )


@register(
    "date_function_battery",
    """
    SELECT o_orderkey,
           strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') AS iso_ts,
           year(o_orderdate) AS y, month(o_orderdate) AS m, day(o_orderdate) AS d,
           dayofweek(o_orderdate) + 1 AS dow,  -- duckdb Sunday=0; spark Sunday=1
           date_trunc('month', o_orderdate) AS month_start,
           o_orderdate + INTERVAL 90 DAY AS due_date,
           date_diff('day', TIMESTAMP '2000-01-01 00:00:00', o_orderdate) AS days_since_2000
    FROM orders WHERE o_orderkey <= 300
    """,
)
def date_function_battery(spark, sf_dir):
    """Date/time family (SURVEY §2.8: TO_CHAR ISO formats, interval
    arithmetic, NUMTODSINTERVAL analogs)."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 300)
    return o.select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd'T'HH:mm:ss").alias("iso_ts"),
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
        F.dayofmonth("o_orderdate").alias("d"),
        F.dayofweek("o_orderdate").alias("dow"),
        F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
        (F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")).alias("due_date"),
        F.datediff(F.col("o_orderdate"), F.lit("2000-01-01").cast("timestamp")).cast("long").alias("days_since_2000"),
    )


# =====================================================================
# Training-data pipeline operators (dedup / similarity / text analysis)
# over documents + embeddings — first-class components per the task
# brief, each with a bit-exact DuckDB oracle (hash primitives are
# sha256-based precisely so the oracle can reproduce them).
# =====================================================================

_SHINGLES_CTE = """
    sh AS (
      SELECT doc_id,
             CASE WHEN len(w) < 3 THEN []::VARCHAR[]
                  ELSE list_distinct([array_to_string(w[i:i+2], ' ')
                                      for i in range(1, greatest(len(w)-2, 0)+1)]) END AS shingles
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))
"""


@register(
    "dedup_exact_sha",
    """
    WITH uni AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 3 = 0)
    SELECT sha256(text) AS content_sha, count(*) AS n_docs,
           min(doc_id) AS keeper_id, max(doc_id) AS max_id
    FROM uni GROUP BY 1 HAVING count(*) > 1
    """,
)
def dedup_exact_sha(spark, sf_dir):
    """Exact dedup by content sha256 (hash-groupBy — one shuffle on a
    64-hex key). A shifted copy of every 3rd doc is unioned in so the
    operator provably finds the duplicate groups and elects keepers."""
    from movex_cdc_spark.operators.dedup import exact_dup_groups

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    dup = d.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    return exact_dup_groups(d.unionByName(dup))


@register(
    "dedup_ngram_jaccard",
    f"""
    WITH {_SHINGLES_CTE},
    ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    dfreq AS (SELECT shingle, count(*) AS df FROM ex GROUP BY 1),
    exf AS (SELECT e.doc_id, e.shingle, d.df
            FROM ex e JOIN dfreq d USING (shingle) WHERE d.df <= 5),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM exf GROUP BY 1),
    joinable AS (SELECT doc_id, shingle FROM exf WHERE df >= 2),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
      FROM joinable a JOIN joinable b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT id_a, id_b, round(shared / (sa.n_sh + sb.n_sh - shared), 6) AS jaccard
    FROM shared JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
    WHERE round(shared / (sa.n_sh + sb.n_sh - shared), 6) >= 0.2
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Near-dup candidate pairs by 3-gram shingle Jaccard (blocking on
    shared shingles — no O(n²) cross join) with the hot-shingle
    document-frequency cap: shingles in more than max_shingle_df docs
    are dropped before the self-join, bounding any block's pair count
    (the 100-TB boilerplate-shingle guard). Jaccard is exact over the
    capped shingle universe in BOTH engines."""
    from movex_cdc_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        load(spark, sf_dir, "documents"), n=3, threshold=0.2, max_shingle_df=5
    )


@register(
    "dedup_minhash_lsh",
    f"""
    WITH {_SHINGLES_CTE},
    sig AS (
      SELECT doc_id,
             [list_min([substr(sha256(s), i*8 + 1, 8) for s in shingles]) for i in range(0, 8)] AS sig
      FROM sh WHERE len(shingles) > 0),
    bands AS (
      SELECT doc_id, b AS band_idx, array_to_string(sig[b*2+1 : b*2+2], '') AS band_val
      FROM sig, unnest(range(0, 4)) AS t(b))
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
    """,
)
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash (k=8) + LSH banding (4 bands x 2 rows): shingle ->
    minhash -> band -> bucket-join. Only the band-bucket equi-join and
    the signature's map-side-combined doc aggregation shuffle.

    The nonempty guard is the cheap token-count equivalent of
    ``size(shingles) > 0`` — a doc has a 3-gram iff it has >= 3 tokens
    — instead of building the full distinct-shingle array just for a
    size check (r8: that HOF filter alone cost ~1.3 s warm on sf0.1)."""
    from movex_cdc_spark.operators.dedup import minhash_lsh_pairs

    d = load(spark, sf_dir, "documents")
    nonempty = d.filter(F.size(F.split(F.col("text"), " ")) >= 3).select("doc_id", "text")
    return minhash_lsh_pairs(nonempty, k=8, rows_per_band=2, n=3)


@register(
    "multimodal_features",
    """
    WITH ids AS (SELECT i FROM range(0, 64) t(i)),
    img_u AS (
      SELECT i AS media_id, 'image' AS kind,
             3 + length(CAST(w AS VARCHAR)) + 1 + length(CAST(h AS VARCHAR)) + 5 + w*h*3 AS n_bytes,
             [CAST((i*97 + j*31) % 256 AS BIGINT) for j in range(0, w*h*3)] AS u,
             CAST(w AS BIGINT) AS d1, CAST(h AS BIGINT) AS d2
      FROM (SELECT i, 16 + (i % 16) AS w, 12 + (i % 8) AS h FROM ids WHERE i % 3 = 0)),
    aud_u AS (
      SELECT i AS media_id, 'audio' AS kind, 44 + 2*ns AS n_bytes,
             [CAST((i*211 + j*13) % 4096 - 2048 AS BIGINT) for j in range(0, ns)] AS u,
             CAST(8000 AS BIGINT) AS d1, CAST(ns AS BIGINT) AS d2
      FROM (SELECT i, 256 + (i % 32)*16 AS ns FROM ids WHERE i % 3 = 1)),
    vid_u AS (
      SELECT i AS media_id, 'video' AS kind, 10 + nf*w*h*3 AS n_bytes,
             [CAST((i*53 + (j // (w*h*3))*101 + (j % (w*h*3))*29) % 256 AS BIGINT)
              for j in range(0, nf*w*h*3)] AS u,
             CAST(w*h AS BIGINT) AS d1, CAST(nf AS BIGINT) AS d2
      FROM (SELECT i, 8 + (i % 4) AS w, 6 + (i % 3) AS h, 2 + (i % 4) AS nf
            FROM ids WHERE i % 3 = 2)),
    allu AS (SELECT * FROM img_u UNION ALL SELECT * FROM aud_u UNION ALL SELECT * FROM vid_u)
    SELECT media_id, kind, CAST(n_bytes AS BIGINT) AS n_bytes,
           array_to_string(
             [CAST(len(u) AS VARCHAR), CAST(CAST(list_sum(u) AS BIGINT) AS VARCHAR),
              CAST(list_min(u) AS VARCHAR), CAST(list_max(u) AS VARCHAR),
              CAST(u[1] AS VARCHAR), CAST(list_extract(u, len(u)) AS VARCHAR),
              CAST(d1 AS VARCHAR), CAST(d2 AS VARCHAR)], ',') AS feature_checksum
    FROM allu
    """,
)
def multimodal_features(spark, sf_dir):
    """Multimodal REAL-codec path under the oracle gate: the synthetic
    media table carries genuinely ENCODED payloads (binary PPM images,
    RIFF/WAVE PCM16 audio, a VID0 raw-frame container), and the
    mapInPandas Arrow-batch path (operators/multimodal.py) decodes the
    BYTES — magic validation, ASCII/RIFF-chunk header parsing, numpy
    frombuffer — then emits integer-exact decoded stats as the feature.
    The oracle regenerates the encoded sample sequences from their
    closed-form definition and computes the same stats, so any decode
    defect (wrong data offset, endianness, header misparse) breaks the
    value hash. The float32 feature round-trips exactly (every stat
    < 2^24) and is SERIALIZED to one comma-joined string: the driver's
    canonicalizer sorts scalar columns only (round-2 lesson — ARRAY
    cells crash its pandas sort)."""
    from movex_cdc_spark.operators.multimodal import extract_features, synthesize_media

    media = synthesize_media(spark, n=64)
    feats = extract_features(media)
    return feats.select(
        "media_id",
        "kind",
        F.col("n_bytes").cast("long").alias("n_bytes"),
        F.expr(
            "concat_ws(',', transform(feature, f -> cast(cast(f as bigint) as string)))"
        ).alias("feature_checksum"),
    )


@register(
    "multimodal_quarantine",
    """
    SELECT i AS media_id, false AS has_error, CAST(NULL AS VARCHAR) AS error_kind
    FROM range(0, 24) t(i)
    UNION ALL SELECT 100, true, 'bad_magic'
    UNION ALL SELECT 101, true, 'empty_units'
    UNION ALL SELECT 102, true, 'empty_units'
    UNION ALL SELECT 103, true, 'truncated'
    """,
)
def multimodal_quarantine(spark, sf_dir):
    """ENGINE-IN-THE-LOOP per-row media quarantine (ADVICE r4 landed as
    an oracle row): a batch mixing 24 genuinely-encoded payloads with 4
    deterministic corrupt ones (wrong magic, zero-sample WAV, zero-frame
    VID0, truncated PPM) flows through the real mapInPandas decode. The
    corrupt rows must come back flagged with their error class — not
    crash the task, not vanish — and every good row must decode clean.
    """
    import numpy as np

    from movex_cdc_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        encode_ppm,
        encode_vid0,
        encode_wav,
        extract_features,
        synthesize_media,
    )

    good = synthesize_media(spark, n=24)
    trunc = encode_ppm(4, 3, (np.arange(36) % 256).astype(np.uint8))[:-5]
    bad = spark.createDataFrame(
        [
            (100, "image", bytearray(b"JFIF not a ppm"), ("image/ppm", 4, 3, 0)),
            (101, "audio", bytearray(encode_wav(np.array([], dtype=np.int16))),
             ("audio/wav", None, None, 0)),
            (102, "video", bytearray(encode_vid0(2, 2, np.array([], dtype=np.uint8))),
             ("video/x-vid0", 2, 2, 0)),
            (103, "image", bytearray(trunc), ("image/ppm", 4, 3, 0)),
        ],
        MEDIA_SCHEMA,
    )
    feats = extract_features(good.unionByName(bad))
    return feats.select(
        "media_id",
        F.col("decode_error").isNotNull().alias("has_error"),
        F.when(F.col("decode_error").contains("not a"), "bad_magic")
        .when(F.col("decode_error").contains("zero decoded units"), "empty_units")
        .when(
            F.col("decode_error").rlike("truncated|data size"), "truncated"
        )
        .otherwise(F.col("decode_error"))
        .alias("error_kind"),
    )


@register(
    "dedup_duplicate_groups",
    f"""
    WITH RECURSIVE {_SHINGLES_CTE},
    sig AS (
      SELECT doc_id,
             [list_min([substr(sha256(s), i*8 + 1, 8) for s in shingles]) for i in range(0, 8)] AS sig
      FROM sh WHERE len(shingles) > 0),
    bands AS (
      SELECT doc_id, b AS band_idx, array_to_string(sig[b*2+1 : b*2+2], '') AS band_val
      FROM sig, unnest(range(0, 4)) AS t(b)),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    reach AS (
      SELECT id, id AS r FROM nodes
      UNION
      SELECT e.dst AS id, r.r FROM reach r JOIN edges e ON e.src = r.id),
    comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
    SELECT count(*) AS n_docs, min(id) AS keeper_id,
           array_to_string(list_sort(list(id)), ',') AS members
    FROM comp GROUP BY component HAVING count(*) > 1
    """,
)
def dedup_duplicate_groups(spark, sf_dir):
    """Dup-group election over the LSH candidate graph: MinHash pairs →
    connected components (iterative min-label propagation, one shuffle
    per round, rounds = cluster diameter) → per-component keeper (min
    id) + member list. This is the stage that turns candidate PAIRS
    into actionable DROP lists at corpus scale; the oracle reproduces
    it with a recursive reachability CTE. The member list crosses the
    driver boundary as a comma-joined string (its canonicalizer sorts
    scalar columns only — ARRAY cells crash its pandas sort)."""
    from movex_cdc_spark.operators.dedup import (
        duplicate_groups_from_pairs,
        minhash_lsh_pairs,
        with_shingles,
    )

    d = load(spark, sf_dir, "documents")
    nonempty = with_shingles(d, 3).filter(F.size("shingles") > 0).select("doc_id", "text")
    pairs = minhash_lsh_pairs(nonempty, k=8, rows_per_band=2, n=3)
    return duplicate_groups_from_pairs(pairs).withColumn(
        "members", F.concat_ws(",", F.expr("transform(members, x -> cast(x as string))"))
    )


@register(
    "dedup_simhash64_banded",
    """
    WITH t AS (
      SELECT doc_id, [sha256(tok) for tok in list_distinct(string_split(text, ' '))] AS shas
      FROM documents),
    fp AS (
      SELECT doc_id,
             array_to_string([CASE WHEN list_sum(
                 [CASE WHEN substr(h, i, 1) IN ('8','9','a','b','c','d','e','f')
                       THEN 1 ELSE -1 END for h in shas]) >= 0 THEN '1' ELSE '0' END
               for i in range(1, 65)], '') AS simhash
      FROM t),
    bands AS (
      SELECT doc_id, b AS band_idx, substr(simhash, b*16+1, 16) AS band_val
      FROM fp, unnest(range(0, 4)) AS tb(b)),
    bsz AS (SELECT band_idx, band_val, count(*) AS bn FROM bands GROUP BY 1, 2),
    capped AS (SELECT bands.* FROM bands JOIN bsz USING (band_idx, band_val) WHERE bn <= 20),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_bands_equal
      FROM capped a JOIN capped b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT id_a, id_b, n_bands_equal FROM pairs
    """,
)
def dedup_simhash64_banded(spark, sf_dir):
    """64-bit SimHash with 4×16-bit Hamming banding — the scale-correct
    successor to the 16-bit demo: near-dup candidates collide in ≥1
    band (any pair within Hamming distance <4 is guaranteed caught),
    the band-bucket equi-join is the only shuffle, and buckets larger
    than max_bucket_size (boilerplate fingerprint clusters) are dropped
    before the self-join, like the jaccard shingle-DF cap."""
    from movex_cdc_spark.operators.dedup import simhash64_banded_pairs

    return simhash64_banded_pairs(
        load(spark, sf_dir, "documents"), n_bands=4, max_bucket_size=20
    )


@register(
    "ann_cosine_topk",
    """
    WITH nm AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             sqrt(list_reduce([x * x for x in embedding::DOUBLE[]], (a, b) -> a + b)) AS norm
      FROM embeddings),
    pairs AS (
      SELECT q.vec_id AS q_id, c.vec_id AS n_id,
             round(list_reduce([z[1] * z[2] for z in list_zip(q.v, c.v)], (a, b) -> a + b)
                   / (q.norm * c.norm), 6) AS cosine
      FROM nm q JOIN nm c ON q.vec_id < 30 AND q.vec_id <> c.vec_id),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rk
      FROM pairs)
    SELECT q_id, n_id AS neighbor_id, cosine, rk FROM ranked WHERE rk <= 3
    """,
)
def ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k (ANN correctness baseline): broadcast
    query batch x corpus scan, sequential-fold dot product in double
    so the oracle is bit-exact, per-query top-k window."""
    from movex_cdc_spark.operators.similarity import cosine_topk_bruteforce

    return cosine_topk_bruteforce(load(spark, sf_dir, "embeddings"), k=3, max_query_id=30)


@register(
    "ann_lsh_bucketed",
    """
    WITH nm AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             sqrt(list_reduce([x * x for x in embedding::DOUBLE[]], (a, b) -> a + b)) AS norm,
             array_to_string([CASE WHEN x >= 0 THEN '1' ELSE '0' END
                              for x in (embedding::DOUBLE[])[1:8]], '') AS bucket
      FROM embeddings),
    pairs AS (
      SELECT q.vec_id AS q_id, c.vec_id AS n_id,
             round(list_reduce([z[1] * z[2] for z in list_zip(q.v, c.v)], (a, b) -> a + b)
                   / (q.norm * c.norm), 6) AS cosine
      FROM nm q JOIN nm c ON q.bucket = c.bucket AND q.vec_id < 30 AND q.vec_id <> c.vec_id),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rk
      FROM pairs)
    SELECT q_id, n_id AS neighbor_id, cosine, rk FROM ranked WHERE rk <= 1
    """,
)
def ann_lsh_bucketed(spark, sf_dir):
    """Scale-path ANN: sign-LSH bucket blocking (fixed hyperplanes on
    the first 8 dims) — cosine only inside buckets; candidate sets are
    ~|corpus|/2^bits instead of |corpus|."""
    from movex_cdc_spark.operators.similarity import cosine_topk_lsh

    return cosine_topk_lsh(load(spark, sf_dir, "embeddings"), k=1, bits=8, max_query_id=30)


@register(
    "ann_random_projection_lsh",
    """
    WITH pl AS (
      SELECT [[ CAST((strpos('0123456789abcdef', substr(sha256('proj' || CAST(p AS VARCHAR) || '|' || CAST(d AS VARCHAR)), 1, 1))-1)*16.0
              + (strpos('0123456789abcdef', substr(sha256('proj' || CAST(p AS VARCHAR) || '|' || CAST(d AS VARCHAR)), 2, 1))-1) - 127.5 AS DOUBLE)
              for d in range(0, 64)] for p in range(0, 8)] AS ws),
    nm AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             sqrt(list_reduce([x * x for x in embedding::DOUBLE[]], (a, b) -> a + b)) AS norm
      FROM embeddings),
    b AS (
      SELECT vec_id, v, norm,
             array_to_string([CASE WHEN list_reduce([z[1]*z[2] for z in list_zip(v, w)], (a, b) -> a + b) >= 0
                              THEN '1' ELSE '0' END for w in ws], '') AS bucket
      FROM nm, pl),
    pairs AS (
      SELECT q.vec_id AS q_id, c.vec_id AS n_id,
             round(list_reduce([z[1] * z[2] for z in list_zip(q.v, c.v)], (a, b) -> a + b)
                   / (q.norm * c.norm), 6) AS cosine
      FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id < 30 AND q.vec_id <> c.vec_id),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rk
      FROM pairs)
    SELECT q_id, n_id AS neighbor_id, cosine, rk FROM ranked WHERE rk <= 1
    """,
)
def ann_random_projection_lsh(spark, sf_dir):
    """Production-variant ANN: 8 REAL random hyperplanes (sha256-seeded,
    zero-mean, broadcast as constant-folded plan literals — recall no
    longer depends on the data's first dimensions like the axis-aligned
    demo). Bucket = sign pattern of the 8 projections; cosine only
    inside buckets; the bucket equi-join is the only shuffle. The oracle
    re-derives the identical weight matrix from sha256 in SQL."""
    from movex_cdc_spark.operators.similarity import (
        cosine_topk_lsh,
        random_projection_bucket,
    )

    return cosine_topk_lsh(
        load(spark, sf_dir, "embeddings"),
        k=1,
        max_query_id=30,
        bucket_expr=random_projection_bucket(bits=8, dim=64, seed="proj"),
    )


@register(
    "ann_ivf_probe",
    """
    WITH n AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             sqrt(list_reduce([x * x for x in embedding::DOUBLE[]], (a, b) -> a + b)) AS nrm
      FROM embeddings),
    cent AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM n WHERE vec_id < 16),
    score AS (
      SELECT n.vec_id, c.c_id,
             round(list_reduce([z[1]*z[2] for z in list_zip(n.v, c.cv)], (a, b) -> a + b)
                   / (n.nrm * c.cn), 6) AS cs
      FROM n, cent c),
    ranked AS (
      SELECT vec_id, c_id,
             row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, c_id) AS rn
      FROM score),
    assign AS (SELECT vec_id, c_id AS cell FROM ranked WHERE rn = 1),
    probes AS (SELECT vec_id AS q_id, c_id AS cell FROM ranked WHERE rn <= 2 AND vec_id < 30),
    cand AS (
      SELECT p.q_id, a.vec_id AS n_id
      FROM probes p JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.q_id),
    scored AS (
      SELECT q_id, n_id,
             round(list_reduce([z[1]*z[2] for z in list_zip(qn.v, nn.v)], (a, b) -> a + b)
                   / (qn.nrm * nn.nrm), 6) AS cosine
      FROM cand JOIN n qn ON qn.vec_id = cand.q_id JOIN n nn ON nn.vec_id = cand.n_id)
    SELECT q_id, n_id AS neighbor_id, cosine, rk
    FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rk
          FROM scored)
    WHERE rk <= 3
    """,
)
def ann_ivf_probe(spark, sf_dir):
    """IVF-style ANN (the inverted-file scale path the task list names
    beside LSH): a 16-entry codebook is inlined as plan literals, every
    vector gets a nearest-centroid CELL in pure codegen (zero shuffle),
    each query probes its 2 best cells, and exact cosine ranks the
    candidates inside the probed cells only — the probe equi-join on
    cell is the single corpus shuffle. The oracle re-derives codebook,
    assignment, probes and ranking from the same deterministic seed
    codebook (vec_id < 16)."""
    from movex_cdc_spark.operators.similarity import ivf_probe_topk

    return ivf_probe_topk(
        load(spark, sf_dir, "embeddings"), n_centroids=16, n_probe=2, k=3,
        max_query_id=30,
    )


@register(
    "dedup_embedding_cosine",
    """
    WITH pl AS (
      SELECT [[ CAST((strpos('0123456789abcdef', substr(sha256('proj' || CAST(p AS VARCHAR) || '|' || CAST(d AS VARCHAR)), 1, 1))-1)*16.0
              + (strpos('0123456789abcdef', substr(sha256('proj' || CAST(p AS VARCHAR) || '|' || CAST(d AS VARCHAR)), 2, 1))-1) - 127.5 AS DOUBLE)
              for d in range(0, 64)] for p in range(0, 8)] AS ws),
    uni AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      UNION ALL
      SELECT vec_id + 100000 AS vec_id,
             [(embedding::DOUBLE[])[i] + CASE WHEN i = 1 THEN 0.05 ELSE 0 END
              for i in range(1, 65)] AS v
      FROM embeddings WHERE vec_id % 7 = 0),
    nm AS (
      SELECT vec_id, v,
             sqrt(list_reduce([x * x for x in v], (a, b) -> a + b)) AS norm
      FROM uni),
    b AS (
      SELECT vec_id, v, norm,
             array_to_string([CASE WHEN list_reduce([z[1]*z[2] for z in list_zip(v, w)], (a, b) -> a + b) >= 0
                              THEN '1' ELSE '0' END for w in ws], '') AS bucket
      FROM nm, pl),
    pairs AS (
      SELECT a.vec_id AS id_a, c.vec_id AS id_b,
             round(list_reduce([z[1] * z[2] for z in list_zip(a.v, c.v)], (x, y) -> x + y)
                   / (a.norm * c.norm), 6) AS cosine
      FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id)
    SELECT id_a, id_b, cosine FROM pairs WHERE cosine >= 0.99
    """,
)
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup detection, LSH-blocked (the fifth dedup
    family in the task list): perturbed copies of every 7th vector are
    planted (the corpus has no natural near-dups — max in-bucket cosine
    0.40), the random-projection buckets block the candidate space, and
    pairs with cosine >= 0.99 survive. Bucketed groupBy + in-codegen
    pair generation + candidate-only vector join — never all-pairs."""
    from movex_cdc_spark.operators.similarity import embedding_near_dup_pairs

    e = load(spark, sf_dir, "embeddings")
    dup = e.filter(F.col("vec_id") % 7 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.expr(
            "transform(embedding, (x, i) -> case when i = 0"
            " then cast(x as double) + 0.05 else cast(x as double) end)"
        ).alias("embedding"),
    )
    uni = e.select(
        "vec_id", F.expr("transform(embedding, x -> cast(x as double))").alias("embedding")
    ).unionByName(dup)
    return embedding_near_dup_pairs(uni, threshold=0.99, bits=8, dim=64)


@register(
    "embedding_stats_by_label",
    """
    WITH nm AS (
      SELECT label, len(embedding) AS dim,
             sqrt(list_reduce([x * x for x in embedding::DOUBLE[]], (a, b) -> a + b)) AS norm
      FROM embeddings)
    SELECT label, count(*) AS n, min(dim) AS min_dim, max(dim) AS max_dim,
           round(sum(norm::DECIMAL(28,8)), 4)::DOUBLE AS sum_norm
    FROM nm GROUP BY label
    """,
)
def embedding_stats_by_label(spark, sf_dir):
    """Embedding-column hygiene stats per label (decimal-summed norms
    so aggregation order can't skew the compare)."""
    from movex_cdc_spark.operators.similarity import with_norm

    e = with_norm(load(spark, sf_dir, "embeddings"))
    return (
        e.select("label", F.size("embedding").alias("dim"), "norm")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("dim").alias("min_dim"),
            F.max("dim").alias("max_dim"),
            F.round(F.sum(F.col("norm").cast("decimal(28,8)")), 4).cast("double").alias("sum_norm"),
        )
    )


@register(
    "text_analysis_battery",
    """
    WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
    m AS (
      SELECT doc_id,
             round(len(list_filter(toks, tk -> lower(tk) IN
               ('the','a','an','of','and','to','in','is','on','for',
                'with','at','by','from','as','it','that','this','be','or')))
               / greatest(len(toks), 1), 6) AS sw_ratio,
             length(text) AS n_chars,
             len(toks) AS n_tokens,
             round((length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')))
                   / greatest(length(text), 1), 6) AS punct_ratio,
             round((length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
                   / greatest(length(text), 1), 6) AS digit_ratio,
             round(list_sum([length(tk) for tk in toks]) / greatest(len(toks), 1), 6) AS mean_tok_len,
             len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS bpe_ish_tokens,
             sha256(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fingerprint
      FROM t)
    SELECT *,
           CASE WHEN sw_ratio >= 0.08 THEN 'en' ELSE 'other' END AS pred_lang,
           round(least(n_tokens / 100.0, 1.0) * 0.5
                 + (1 - least(punct_ratio * 5, 1.0)) * 0.25
                 + (1 - least(digit_ratio * 5, 1.0)) * 0.25, 6) AS quality
    FROM m
    """,
)
def text_analysis_battery(spark, sf_dir):
    """The full per-document text-analysis battery in ONE projection
    over ONE scan (operators/textops.py text_analysis): language ID
    (stopword-ratio heuristic), quality heuristics + composite score,
    whitespace + BPE-ish token counts, and the order-insensitive
    bag-of-tokens fingerprint. language_id / quality_score /
    token_counts / fingerprint are thin column slices of this frame,
    each pytest-covered; verifying the battery verifies all four while
    costing the driver one row instead of four."""
    from movex_cdc_spark.operators.textops import text_analysis

    return text_analysis(load(spark, sf_dir, "documents"))


@register(
    "text_tfidf_top_terms",
    """
    WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
             round(tf.tf * (ln((1 + n.n_docs) / (1.0 + dfreq.df)) + 1), 6) AS tfidf
      FROM tf JOIN dfreq USING (term), n),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk
      FROM scored)
    SELECT doc_id, term, tf, df, tfidf, rk FROM ranked WHERE rk <= 3
    """,
)
def text_tfidf_top_terms(spark, sf_dir):
    """Top-3 TF-IDF terms per document (smooth idf; three narrow
    aggregations, term dictionary broadcast back, global N as a lazy
    broadcast scalar; rank on the rounded score so double ulps never
    decide a rank)."""
    from movex_cdc_spark.operators.textops import tfidf_top_terms

    return tfidf_top_terms(load(spark, sf_dir, "documents"), k=3)


@register(
    "pipeline_clean_corpus",
    """
    WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
    lang AS (
      SELECT doc_id,
             round(len(list_filter(toks, tk -> lower(tk) IN
               ('the','a','an','of','and','to','in','is','on','for',
                'with','at','by','from','as','it','that','this','be','or')))
               / greatest(len(toks), 1), 6) AS sw_ratio
      FROM t),
    q AS (
      SELECT doc_id,
             round(least(len(toks) / 100.0, 1.0) * 0.5
                   + (1 - least(round((length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')))
                                / greatest(length(text), 1), 6) * 5, 1.0)) * 0.25
                   + (1 - least(round((length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
                                / greatest(length(text), 1), 6) * 5, 1.0)) * 0.25, 6) AS quality
      FROM t),
    dup AS (
      SELECT sha256(text) AS sha, min(doc_id) AS keeper FROM documents GROUP BY 1)
    SELECT d.doc_id,
           lang.sw_ratio, q.quality
    FROM documents d
    JOIN lang USING (doc_id) JOIN q USING (doc_id)
    JOIN dup ON sha256(d.text) = dup.sha AND d.doc_id = dup.keeper
    WHERE lang.sw_ratio >= 0.08 AND q.quality >= 0.5
    """,
)
def pipeline_clean_corpus(spark, sf_dir):
    """CAPSTONE composition — the training-data cleaning pipeline as one
    plan: language ID (keep 'en'), quality score (keep >= 0.5), exact
    dedup keeper election (keep min doc_id per content sha). Each stage
    is the REAL operator; Catalyst fuses the three filters over a single
    documents scan plus one dedup shuffle."""
    from movex_cdc_spark.operators.dedup import TEXT_COL
    from movex_cdc_spark.operators.textops import language_id, quality_score

    d = load(spark, sf_dir, "documents")
    lang = language_id(d).select("doc_id", "sw_ratio", "pred_lang")
    qual = quality_score(d).select("doc_id", "quality")
    keepers = (
        d.withColumn("sha", F.sha2(F.col(TEXT_COL), 256))
        .groupBy("sha")
        .agg(F.min("doc_id").alias("keeper"))
        .select(F.col("keeper").alias("doc_id"))
    )
    return (
        d.select("doc_id")
        .join(lang, "doc_id")
        .join(qual, "doc_id")
        .join(keepers, "doc_id")  # semi-ish: keepers has unique doc_id
        .filter((F.col("pred_lang") == "en") & (F.col("quality") >= 0.5))
        .select("doc_id", "sw_ratio", "quality")
    )


# =====================================================================
# Engine-in-the-loop + remaining §2 coverage
# =====================================================================


@register(
    "cdc_engine_replay_final_state",
    f"""
    WITH tagged AS (
      SELECT user_id, event_id, {OP_CASE_SQL} AS op,
             event_type || ':' || CAST(value AS VARCHAR) AS content
      FROM events),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
      FROM tagged)
    SELECT CAST(user_id AS VARCHAR) AS repo, event_id AS last_seq,
           content, sha256(content) AS content_sha
    FROM ranked WHERE rn = 1 AND op <> 'D'
    """,
)
def cdc_engine_replay_final_state(spark, sf_dir):
    """THE ENGINE ITSELF under the oracle gate: the events table is
    mapped to a change stream keyed by user_id, applied through the real
    LakeTable bucketed MERGE in 3 epochs (out-of-order across epochs),
    and the materialized final state is compared against the plain-SQL
    LWW oracle — replay-to-final-state equivalence checked end to end,
    not just expression parity."""
    ev = _change_stream(spark, sf_dir).withColumn("content_sha", F.sha2("content", 256))
    table = _lake_table(spark, f"{_scratch_dir('engine_replay_')}/t", "content", "content_sha")
    # merge resolves each slice's in-batch last writer itself
    for i, batch in enumerate(_epochs(ev, 3)):
        table.merge(batch, epoch_id=i)
    return table.read().select(
        "repo", F.col("last_seq"), "content", "content_sha"
    )


@register(
    "cdc_incremental_changes",
    f"""
    WITH tagged AS (
      SELECT CAST(user_id AS VARCHAR) AS repo, event_id, {OP_CASE_SQL} AS op,
             event_type || ':' || CAST(value AS VARCHAR) AS content
      FROM events),
    to_w AS (
      SELECT repo, event_id AS last_seq, op, content,
             row_number() OVER (PARTITION BY repo ORDER BY event_id DESC) AS rn
      FROM tagged),
    to_s AS (SELECT repo, last_seq, op, content FROM to_w WHERE rn = 1),
    from_w AS (
      SELECT repo, event_id AS last_seq, op,
             row_number() OVER (PARTITION BY repo ORDER BY event_id DESC) AS rn
      FROM tagged WHERE event_id % 3 = 0),
    from_s AS (SELECT repo, last_seq, op FROM from_w WHERE rn = 1),
    classified AS (
      SELECT t.repo, t.content, CAST(t.last_seq AS BIGINT) AS last_seq,
             CASE WHEN (f.repo IS NULL OR f.op = 'D') AND t.op <> 'D' THEN 'I'
                  WHEN f.repo IS NOT NULL AND f.op <> 'D' AND t.op = 'D' THEN 'D'
                  WHEN f.op <> 'D' AND t.op <> 'D' THEN 'U' END AS change_op
      FROM to_s t LEFT JOIN from_s f USING (repo)
      WHERE f.last_seq IS NULL OR t.last_seq <> f.last_seq)
    SELECT repo, content, last_seq, change_op
    FROM classified WHERE change_op IS NOT NULL
    """,
)
def cdc_incremental_changes(spark, sf_dir):
    """ENGINE-IN-THE-LOOP incremental changelog (Iceberg incremental-
    read analog; the lake-side equivalent of the reference's outbound
    change stream): the event stream is applied through the real
    bucketed MERGE in 3 epochs, then ``LakeTable.changes(v1, v3)`` —
    a METADATA bucket diff + pruned snapshot join — must emit exactly
    the keys whose LWW winner changed after epoch 0, classified I/U/D,
    matching the plain-SQL two-window reconstruction. Unchanged keys
    and tombstone-to-tombstone advances must NOT appear."""
    ev = _change_stream(spark, sf_dir)
    table = _lake_table(spark, f"{_scratch_dir('incr_changes_')}/t", "content")
    for i, batch in enumerate(_epochs(ev, 3)):
        table.merge(batch, epoch_id=i)
    # version 1 = after epoch 0; current = after all three
    return table.changes(1).select("repo", "content", "last_seq", "change_op")


@register(
    "cdc_config_projection_expressions",
    f"""
    WITH tagged AS (
      SELECT *, {OP_CASE_SQL} AS op FROM events),
    filt AS (
      SELECT * FROM tagged WHERE (op <> 'U') OR value >= 0.3)
    SELECT event_id, user_id, op,
           CASE WHEN op IN ('I','U') THEN event_type END AS event_type,
           CASE WHEN op IN ('I','U') THEN value END AS value,
           CASE WHEN op = 'I' THEN props END AS props,
           CASE WHEN op IN ('I','U')
                THEN event_type || '#' || CAST(user_id AS VARCHAR) END AS etype_key
    FROM filt
    """,
)
def cdc_config_projection_expressions(spark, sf_dir):
    """Config-compiled capture (P1/P2/P3/§2.10) through the REAL
    operators: TableCfg per-op conditions + per-op column projection +
    column_expressions (reference trigger compilation,
    db_trigger_generator_oracle.rb:98-238,620-676). The oracle mirrors
    what the config compiles to: U rows gated on value >= 0.3, columns
    nulled per op flags, computed key expression added for I/U."""
    from movex_cdc_spark.config.table_config import ColumnCfg, ExpressionCfg, TableCfg
    from movex_cdc_spark.operators.filters import per_op_condition_filter

    cfg = TableCfg(
        name="events",
        key_cols=["user_id"],
        columns=[
            ColumnCfg("event_type", log_delete=False),
            ColumnCfg("value", log_delete=False),
            ColumnCfg("props", log_update=False, log_delete=False),
        ],
        conditions={"U": "value >= 0.3"},
        expressions=[
            ExpressionCfg(
                alias="etype_key",
                sql="concat(event_type, '#', cast(user_id as string))",
                operations=("I", "U"),
            )
        ],
    )
    ev = _with_op(load(spark, sf_dir, "events"))
    out = per_op_condition_filter(ev, cfg.conditions)
    out = cfg.apply_projection(out)
    return out.select(
        "event_id", "user_id", "op", "event_type", "value", "props", "etype_key"
    )


@register(
    "cdc_schema_evolution",
    f"""
    WITH tagged AS (
      SELECT CAST(user_id AS VARCHAR) AS repo, event_id, {OP_CASE_SQL} AS op,
             event_type || ':' || CAST(value AS VARCHAR) AS content,
             CAST(floor(value * 100) AS BIGINT) AS rev,
             CASE WHEN event_id % 2 = 1 THEN event_type END AS etype
      FROM events),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY repo ORDER BY event_id DESC) AS rn
      FROM tagged)
    SELECT repo, event_id AS last_seq, content, rev, etype
    FROM ranked WHERE rn = 1 AND op <> 'D'
    """,
)
def cdc_schema_evolution(spark, sf_dir):
    """ENGINE-IN-THE-LOOP schema evolution — the north rule's named hard
    part and the reference's trigger regeneration on config change
    (import_export_config.rb:86-120, db_trigger_generator_oracle.rb:410-422):
    epoch 0 merges OLD-shape batches (rev INT, no etype); the schema then
    evolves (add etype column + int→long widen = ALTER before MERGE,
    metadata-only); epoch 1 merges NEW-shape batches. Old files are read
    with the new schema (missing column → null, narrow ints widened);
    the final state must equal the plain-SQL LWW oracle over BOTH shapes
    interleaved — epochs split by seq parity, so per-key order across
    epochs is NOT arrival order."""
    ev = _change_stream(spark, sf_dir, "value", "event_type")
    table = _lake_table(spark, f"{_scratch_dir('schema_evo_')}/t", "content", rev=T.IntegerType())

    even, odd = _epochs(ev, 2)
    # epoch 0: OLD shape (rev is INT, no etype)
    b0 = even.select(
        "repo", "path", "content",
        F.floor(F.col("value") * 100).cast("int").alias("rev"),
        "seq", "op",
    )
    table.merge(b0, epoch_id=0)

    # config change: NEW shape (rev widened to LONG, etype added)
    b1 = odd.select(
        "repo", "path", "content",
        F.floor(F.col("value") * 100).alias("rev"),  # long
        F.col("event_type").alias("etype"),
        "seq", "op",
    )
    table.evolve_schema(
        T.StructType([f for f in b1.schema.fields if f.name not in ("seq", "op")])
    )
    table.merge(b1, epoch_id=1)

    return table.read().select("repo", F.col("last_seq"), "content", "rev", "etype")


@register(
    "streaming_stateful_sessions",
    """
    WITH d AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 3600000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (
      SELECT user_id, event_id, ts,
             CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS BIGINT) - 1 AS session_id
      FROM d),
    agg AS (
      SELECT user_id, session_id,
             count(*) AS events_in_session,
             first(event_id ORDER BY ts, event_id) AS first_seq,
             last(event_id ORDER BY ts, event_id) AS last_seq
      FROM s GROUP BY user_id, session_id)
    SELECT user_id, session_id, events_in_session, first_seq, last_seq
    FROM (SELECT *, max(session_id) OVER (PARTITION BY user_id) AS max_sid FROM agg)
    WHERE session_id < max_sid
    """,
)
def streaming_stateful_sessions(spark, sf_dir):
    """ENGINE-IN-THE-LOOP custom stateful streaming operator
    (applyInPandasWithState, streaming/windows.py): the REAL streaming
    query runs to completion over the event file and the emitted
    sessions are compared to the plain-SQL gap sessionization. The
    operator's contract — a session is emitted exactly once, when its
    closing gap is observed; each user's final session stays open — is
    mirrored by the oracle's 'drop each user's last session' clause."""
    from movex_cdc_spark.streaming.windows import gap_sessionize_stateful

    tdir = _scratch_dir("stateful_sessions_")
    ev_dir = f"{tdir}/events"
    os.makedirs(ev_dir)
    shutil.copy(f"{sf_dir}/events.parquet", f"{ev_dir}/events.parquet")
    _drain(gap_sessionize_stateful(spark, ev_dir, f"{tdir}/ckpt", f"{tdir}/out",
                                   EVENTS_FILE_SCHEMA), "stateful sessionization")
    return spark.read.parquet(f"{tdir}/out").select(
        "user_id", "session_id", "events_in_session", "first_seq", "last_seq"
    )


@register(
    "streaming_idle_timeout_sessions",
    """
    WITH d AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 3600000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (
      SELECT user_id, event_id, ts,
             CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
      FROM d),
    m AS (SELECT max(ts) AS max_ts FROM events),
    agg AS (
      SELECT user_id, sid,
             count(*) AS events_in_session,
             first(event_id ORDER BY ts, event_id) AS first_seq,
             last(event_id ORDER BY ts, event_id) AS last_seq,
             max(ts) AS last_ts
      FROM s GROUP BY user_id, sid)
    SELECT user_id, first_seq, events_in_session, last_seq
    FROM (SELECT *, max(sid) OVER (PARTITION BY user_id) AS max_sid FROM agg), m
    WHERE sid < max_sid
       OR epoch_us(m.max_ts) // 1000 - 3600000
          > epoch_us(last_ts) // 1000 + 3600000
    """,
)
def streaming_idle_timeout_sessions(spark, sf_dir):
    """ENGINE-IN-THE-LOOP idle-timeout sessionizer — the 100-TB
    state-bound variant (streaming/windows.py idle_timeout_s: event-time
    GroupStateTimeout flushes a key's open session once the watermark
    passes last_ts + timeout, so state tracks ACTIVE keys only). The
    stream is staged as THREE time-ordered triggers so the watermark
    genuinely advances between micro-batches and idle keys time out
    mid-stream, not just at end-of-stream.

    Oracle mirror of the flush rule: with globally time-ordered trigger
    files, a timeout can only fire for a key whose next event (if any)
    is > gap away — the watermark (trailing by the delay) can never
    overtake a key's timeout while a closer event is still queued — so
    the emitted set is exactly {gap-closed sessions} ∪ {final sessions
    whose last_ts + timeout < final watermark}. The watermark comparison
    is mirrored at Spark's millisecond watermark granularity
    (epoch_us // 1000), matching GroupStateImpl's timestamp math.
    session_id is deliberately NOT part of the contract here: after a
    timeout flush a returning key restarts numbering per the documented
    state-incarnation trade (windows.py), so rows key on the globally
    unique first_seq; numbering itself is driver-verified by the
    NoTimeout row streaming_stateful_sessions.

    Reference analog: the worker's max-event-age flush + per-key state
    retirement (transfer_thread.rb:229-328 adaptive window close)."""
    from movex_cdc_spark.streaming.windows import gap_sessionize_stateful

    tdir = _scratch_dir("idle_sessions_")
    ev_dir = _stage_triggers(f"{tdir}/events", _time_ordered_thirds(sf_dir))
    _drain(gap_sessionize_stateful(
        spark, ev_dir, f"{tdir}/ckpt", f"{tdir}/out", EVENTS_FILE_SCHEMA,
        max_files_per_trigger=1, idle_timeout_s=3600,
    ), "idle-timeout sessionization")
    return spark.read.parquet(f"{tdir}/out").select(
        "user_id", "first_seq", "events_in_session", "last_seq"
    )


@register(
    "streaming_watermark_dedup",
    """
    SELECT event_id, user_id, event_type FROM events
    """,
)
def streaming_watermark_dedup(spark, sf_dir):
    """ENGINE-IN-THE-LOOP streaming id-dedup (streaming/windows.py
    dedup_stream_within_watermark): the event stream is staged as three
    time-ordered triggers with DUPLICATES injected — every 5th row
    duplicated inside its own trigger, and every trigger's final-hour
    rows redelivered in the NEXT trigger (inside the 2h watermark slack,
    so the dedup state for them is provably still live when the copy
    arrives). dropDuplicatesWithinWatermark keyed on event_id must
    collapse all of it back to exactly the original event set — which is
    the whole oracle: SELECT the undoctored events table. State is
    bounded by the watermark window (the 100-TB guard), mirrored here by
    only redelivering within the slack — the at-least-once transport
    contract (reference hazard window transfer_thread.rb:171-177)."""
    import pandas as pd

    from movex_cdc_spark.streaming.windows import dedup_stream_within_watermark

    tdir = _scratch_dir("wm_dedup_")
    parts = _time_ordered_thirds(sf_dir)
    triggers = []
    for i, part in enumerate(parts):
        # in-trigger duplicates: every 5th row of this trigger
        chunks = [part, part.iloc[::5]]
        if i > 0:
            # cross-trigger redelivery: the PREVIOUS trigger's final
            # hour, arriving again one trigger later — within the 2h
            # slack, so the dedup state is still live
            prev = parts[i - 1]
            tail = prev[prev["ts"] > prev["ts"].max() - pd.Timedelta(hours=1)]
            chunks.append(tail)
        triggers.append(pd.concat(chunks, ignore_index=True))
    _drain(dedup_stream_within_watermark(
        spark, _stage_triggers(f"{tdir}/events", triggers), f"{tdir}/ckpt", f"{tdir}/out",
        EVENTS_FILE_SCHEMA, within="2 hours", max_files_per_trigger=1,
    ), "watermark dedup stream")
    return spark.read.parquet(f"{tdir}/out").select("event_id", "user_id", "event_type")


@register(
    "sample_stratified_by_lang",
    """
    SELECT doc_id, lang FROM documents
    WHERE ('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
          < CAST(floor((CASE WHEN lang = 'en' THEN 0.5
                             WHEN lang = 'de' THEN 0.8
                             ELSE 1.0 END) * 4294967296) AS UBIGINT)
    """,
)
def sample_stratified_by_lang(spark, sf_dir):
    """Deterministic stratified downsampling (operators/sampling.py):
    keep a row iff sha256-u32(doc_id) < rate(lang)·2^32 — rebalances an
    en-heavy corpus (en halved, de lightly trimmed, tails kept whole)
    with zero shuffle, zero RNG state, and hash-threshold monotonicity
    (raising a rate strictly grows the kept set). The oracle reproduces
    the exact selection from the same sha256 prefix."""
    from movex_cdc_spark.operators.sampling import stratified_hash_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return stratified_hash_sample(
        docs, "lang", {"en": 0.5, "de": 0.8}, default_rate=1.0
    ).select("doc_id", "lang")


@register(
    "pack_token_shards",
    r"""
    WITH t AS (
      SELECT doc_id, doc_id % 8 AS bucket,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(text), '\s+')) END AS tokens
      FROM documents),
    c AS (
      SELECT doc_id, bucket, CAST(tokens AS BIGINT) AS tokens,
             CAST(sum(tokens) OVER (PARTITION BY bucket ORDER BY doc_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
      FROM t)
    SELECT doc_id, bucket, tokens, cum_tokens,
           CAST(floor((cum_tokens - tokens) / 2000.0) AS BIGINT) AS shard_id
    FROM c
    """,
)
def pack_token_shards_query(spark, sf_dir):
    """Token-budget shard packing (operators/sampling.py): documents are
    packed into ~2000-token training shards by a running token sum,
    independently per deterministic bucket (doc_id % 8) — the bucket is
    the parallelism unit, so there is exactly ONE shuffle (the bucket
    hash partition) and never a global sort. shard = floor((cumsum -
    tokens)/budget): the start-of-document convention keeps every
    document whole within one shard."""
    from movex_cdc_spark.operators.sampling import pack_token_shards

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return pack_token_shards(docs, budget=2000, n_buckets=8)


@register(
    "cap_per_source",
    """
    SELECT doc_id, lang, source, n_chars FROM (
      SELECT doc_id, lang, source, n_chars,
             row_number() OVER (PARTITION BY lang, source
                                ORDER BY n_chars DESC, doc_id ASC) AS rn
      FROM documents) t
    WHERE rn <= 5
    """,
)
def cap_per_source(spark, sf_dir):
    """Hot-domain cap (operators/sampling.py cap_per_group): keep at
    most 5 documents per (lang, source), preferring the longest, ties
    broken by ascending doc_id so the kept set is a deterministic total
    order — the per-origin dominance guard of a crawl-curation
    pipeline."""
    from movex_cdc_spark.operators.sampling import cap_per_group

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return cap_per_group(docs, ["lang", "source"], "n_chars", "doc_id", k=5).select(
        "doc_id", "lang", "source", "n_chars"
    )


@register(
    "streaming_hourly_stats",
    """
    WITH m AS (SELECT max(ts) AS max_ts FROM events)
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           count(*) AS events,
           round(sum(CAST(value AS DECIMAL(18,2))), 2)::DOUBLE AS sum_value,
           max(event_id) AS max_seq
    FROM events, m
    GROUP BY date_trunc('hour', ts), event_type, m.max_ts
    HAVING date_trunc('hour', ts) + INTERVAL 1 HOUR <= m.max_ts - INTERVAL 2 HOUR
    """,
)
def streaming_hourly_stats_rollup(spark, sf_dir):
    """ENGINE-IN-THE-LOOP watermarked streaming rollup — the reference
    A3 statistics compaction (compress_statistics.rb:26-59) in true
    event-time form (streaming/windows.py streaming_hourly_stats). The
    stream is staged as THREE triggers with a genuinely LATE second
    batch: a 60-minute strip of events is withheld from trigger 1 (which
    already contains newer rows) and delivered in trigger 2 — inside the
    2-hour watermark slack, so every late row still counts, exercising
    the documented late-data contract (SURVEY ST3). Trigger 3 advances
    the watermark so the late rows' windows are emitted. Append mode
    emits each (window, event_type) exactly once; the oracle mirrors the
    emission rule — only windows whose end <= max(ts) - 2h are out — and
    the decimal(18,2) value sum (order-independent, exact)."""
    import pandas as pd

    from movex_cdc_spark.streaming.windows import streaming_hourly_stats

    ev = pd.read_parquet(f"{sf_dir}/events.parquet").sort_values("ts")
    m = ev["ts"].max()
    tail = ev[ev["ts"] > m - pd.Timedelta(hours=4)]
    rest = ev[ev["ts"] <= m - pd.Timedelta(hours=4)]
    t1 = rest["ts"].max()
    late_mask = (rest["ts"] > t1 - pd.Timedelta(minutes=90)) & (
        rest["ts"] <= t1 - pd.Timedelta(minutes=30)
    )
    tdir = _scratch_dir("hourly_stats_")
    # trigger order: bulk (already contains rows NEWER than the withheld
    # strip) -> the late strip -> the 4h tail
    d = _stage_triggers(f"{tdir}/events", (rest[~late_mask], rest[late_mask], tail))
    _drain(streaming_hourly_stats(
        spark, d, f"{tdir}/ckpt", f"{tdir}/out", EVENTS_FILE_SCHEMA,
        watermark="2 hours", window="1 hour", max_files_per_trigger=1,
    ), "watermarked rollup")
    return spark.read.parquet(f"{tdir}/out").select(
        "window_start", "event_type", "events", "sum_value", "max_seq"
    )


@register(
    "cdc_mor_replay_final_state",
    f"""
    WITH tagged AS (
      SELECT user_id, event_id, {OP_CASE_SQL} AS op,
             event_type || ':' || CAST(value AS VARCHAR) AS content
      FROM events),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
      FROM tagged)
    SELECT CAST(user_id AS VARCHAR) AS repo, event_id AS last_seq, content
    FROM ranked WHERE rn = 1 AND op <> 'D'
    """,
)
def cdc_mor_replay_final_state(spark, sf_dir):
    """ENGINE-IN-THE-LOOP merge-on-read path (lake/table.py delta
    files — the write-amplification answer for tiny frequent epochs):
    6 un-deduped epochs are merged into a LakeTable. The first 4 append
    one delta file each (zero bucket rewrites), the 5th exceeds the
    delta depth and compacts the touched buckets through the
    copy-on-write merge, and the 6th lands as a delta on top. The
    read-time fold over base ∪ deltas must equal the same plain-SQL
    oracle the eager COW replay satisfies."""
    ev = _change_stream(spark, sf_dir)
    table = _lake_table(spark, f"{_scratch_dir('mor_replay_')}/lake", "content")
    for i, batch in enumerate(_epochs(ev, 6)):
        table.merge(batch, epoch_id=i)
    return table.read().select("repo", F.col("last_seq"), "content")


@register(
    "cdc_housekeeping_time_travel",
    f"""
    WITH tagged AS (
      SELECT user_id, event_id, {OP_CASE_SQL} AS op,
             event_type || ':' || CAST(value AS VARCHAR) AS content
      FROM events),
    half AS (SELECT * FROM tagged WHERE event_id % 4 IN (0, 1)),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
      FROM half)
    SELECT CAST(user_id AS VARCHAR) AS repo, event_id AS last_seq, content
    FROM ranked WHERE rn = 1 AND op <> 'D'
    """,
)
def cdc_housekeeping_time_travel(spark, sf_dir):
    """ENGINE-IN-THE-LOOP snapshot housekeeping + time travel (ST8;
    reference drops drained Event_Logs partitions, housekeeping.rb:45-107):
    4 epochs merge; expire_snapshots keeps the last 3 versions and
    physically removes files only the older snapshots referenced; the
    TIME-TRAVEL read of version 2 (epochs 0-1 applied) must still
    reconstruct exactly — the oracle is the LWW over the first two
    epoch slices. Expiry must never break a retained snapshot."""
    ev = _change_stream(spark, sf_dir)
    table = _lake_table(spark, f"{_scratch_dir('housekeeping_tt_')}/t", "content")
    for i, batch in enumerate(_epochs(ev, 4)):
        table.merge(batch, epoch_id=i)
    removed = table.expire_snapshots(keep_last=3)
    assert removed >= 0  # versions 0-1's exclusive files are gone
    # time travel to version 2 = state after epochs 0 and 1
    return table.read(version=2).select("repo", F.col("last_seq"), "content")


@register(
    "cdc_bootstrap_init_load",
    f"""
    WITH uids AS (SELECT DISTINCT user_id FROM events),
    changes AS (
      SELECT user_id, event_id, {OP_CASE_SQL} AS op,
             event_type || ':' || CAST(value AS VARCHAR) AS content
      FROM events WHERE user_id % 5 <> 0),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
      FROM changes),
    from_changes AS (
      SELECT CAST(user_id AS VARCHAR) AS repo, event_id AS last_seq, content
      FROM ranked WHERE rn = 1 AND op <> 'D'),
    init_only AS (
      SELECT CAST(user_id AS VARCHAR) AS repo, 0 AS last_seq,
             'init:' || CAST(user_id AS VARCHAR) AS content
      FROM uids WHERE user_id % 5 = 0 AND user_id % 3 <> 0)
    SELECT * FROM from_changes UNION ALL SELECT * FROM init_only
    """,
)
def cdc_bootstrap_init_load(spark, sf_dir):
    """ENGINE-IN-THE-LOOP initial snapshot load (S8; reference flashback
    SELECT → INIT events, db_trigger_generator_oracle.rb:499-569): a
    base snapshot of every key becomes op='I' events at seq 0 through
    snapshot_to_init_events (honoring initialization_filter, here
    user_id%3<>0, and initialization_order_by), merged as epoch 0; real
    changes (only keys with user_id%5<>0, so some keys stay
    init-only) stream on top in 2 epochs. Later seqs win over the
    snapshot exactly as changes after the flashback SCN win in the
    reference; snapshot rows survive only for keys with no changes."""
    from movex_cdc_spark.config.table_config import ColumnCfg, TableCfg
    from movex_cdc_spark.operators.bootstrap import snapshot_to_init_events

    ev = _change_stream(spark, sf_dir)
    base = (
        ev.select("repo").distinct()
        .withColumn("path", F.lit("state"))
        .withColumn("content", F.concat(F.lit("init:"), F.col("repo")))
    )
    cfg = TableCfg(
        name="state",
        key_cols=["repo", "path"],
        columns=[ColumnCfg("repo"), ColumnCfg("path"), ColumnCfg("content")],
        initialization=True,
        initialization_filter="cast(repo as bigint) % 3 <> 0",
        initialization_order_by="repo",
    )
    table = _lake_table(spark, f"{_scratch_dir('bootstrap_')}/t", "content")
    table.merge(snapshot_to_init_events(base, cfg, snapshot_seq=0), epoch_id=0)
    changes = ev.filter(F.col("repo").cast("long") % 5 != 0)
    for i, batch in enumerate(_epochs(changes, 2)):
        table.merge(batch, epoch_id=i + 1)
    return table.read().select("repo", F.col("last_seq"), "content")


@register(
    "cdc_retry_heal_final_state",
    f"""
    WITH tagged AS (
      SELECT user_id, event_id, {OP_CASE_SQL} AS op,
             CASE WHEN value < 0.1 AND {OP_CASE_SQL} <> 'D'
                  THEN 'healed:' || CAST(event_id AS VARCHAR)
                  ELSE event_type || ':' || CAST(value AS VARCHAR) END AS content
      FROM events),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
      FROM tagged)
    SELECT CAST(user_id AS VARCHAR) AS repo, event_id AS last_seq, content
    FROM ranked WHERE rn = 1 AND op <> 'D'
    """,
)
def cdc_retry_heal_final_state(spark, sf_dir):
    """ENGINE-IN-THE-LOOP dead-letter + retry round trip (S7/S11/ST5;
    reference transfer_thread.rb:358-371,468-491): events with value <
    0.1 are poisoned (NULL content), quarantined by apply_batch into the
    dead-letter table across 2 epochs, then healed (content restored as
    'healed:'+seq) and re-admitted through RetryWorker — which re-applies
    them through the SAME fenced merge path. The final state must equal
    LWW over the union of clean and healed events: re-admission keeps the
    original seq, so a healed row wins only where it would have won."""
    from movex_cdc_spark.operators.apply import DeadLetterTable, apply_batch
    from movex_cdc_spark.streaming.retry import RetryWorker

    ev = _change_stream(
        spark, sf_dir,
        # non-null old image (as a real U trigger carries): otherwise a
        # poison U row (null content) would no-op-suppress against a
        # null old image instead of reaching the dead letter
        F.lit("prev").alias("old_content"),
        content=f"CASE WHEN value < 0.1 AND {OP_CASE_SQL} <> 'D' THEN NULL ELSE {CONTENT_SQL} END",
    )
    tdir = _scratch_dir("retry_heal_")
    table = _lake_table(spark, f"{tdir}/t", "content", "content_sha")
    dl = DeadLetterTable(spark, f"{tdir}/dl")
    for i, batch in enumerate(_epochs(ev, 2)):
        apply_batch(
            table,
            batch,
            epoch_id=i,
            condition_sql="1=1",  # no exclusion fixture in this stream
            dead_letter=dl,
        )
    # heal the quarantined rows (the reference operator fixing bad data)
    # through the dead-letter table's own atomic rewrite
    m = dl.log.meta()
    healed = dl.read(m).withColumn(
        "content", F.concat(F.lit("healed:"), F.col("seq").cast("string"))
    )
    dl.replace(healed, m)
    worker = RetryWorker(spark, table, dl, f"{tdir}/final")
    worker.readmit(epoch_id=10)
    return table.read().select("repo", F.col("last_seq"), "content")


@register(
    "cdc_unkeyed_append",
    f"""
    SELECT event_id AS seq, {OP_CASE_SQL} AS op,
           event_type || ':' || CAST(value AS VARCHAR) AS content,
           CAST(NULL AS VARCHAR) AS msg_key
    FROM events
    """,
)
def cdc_unkeyed_append(spark, sf_dir):
    """ENGINE-IN-THE-LOOP unkeyed path (S5; reference keyless produce
    with relaxed ordering, transfer_thread.rb:331-347): a
    key_handling='N' table routes through apply_batch_unkeyed into the
    epoch-fenced UnkeyedEventLog — every valid event appended exactly
    once across 2 epochs, NO LWW collapse, NULL message keys."""
    from movex_cdc_spark.config.table_config import ColumnCfg, TableCfg
    from movex_cdc_spark.lake.append_log import UnkeyedEventLog
    from movex_cdc_spark.operators.apply import apply_batch_unkeyed, flag_dispositions

    ev = load(spark, sf_dir, "events").select(
        F.col("event_id").alias("seq"),
        F.expr(OP_CASE_SQL).alias("op"),
        F.expr(CONTENT_SQL).alias("content"),
        F.lit(None).cast("string").alias("old_content"),
    )
    cfg = TableCfg(
        name="events_unkeyed",
        key_cols=[],
        columns=[ColumnCfg("content")],
        key_handling="N",
    )
    log = UnkeyedEventLog.create(spark, f"{_scratch_dir('unkeyed_')}/log")
    for i, batch in enumerate(_epochs(ev, 2)):
        apply_batch_unkeyed(log, flag_dispositions(batch, table_cfg=cfg), epoch_id=i,
                            table_cfg=cfg)
    return log.read().select("seq", "op", "content", "msg_key")


@register(
    "cdc_envelope_sink_contract",
    f"""
    WITH tagged AS (
      SELECT event_id AS id, {OP_CASE_SQL} AS op, user_id, ts,
             event_id // 100 AS txid,
             event_type || ':' || CAST(value AS VARCHAR) AS content
      FROM events)
    SELECT id,
           CASE op WHEN 'I' THEN 'INSERT' WHEN 'U' THEN 'UPDATE' ELSE 'DELETE' END AS operation,
           '{{"repo":"' || CAST(user_id AS VARCHAR) || '","path":"state"}}' AS msg_key,
           txid AS transaction_id,
           strftime(ts, '%Y-%m-%dT%H:%M:%S.%f') || '+00:00' AS ts_iso,
           CAST(user_id AS VARCHAR) AS payload_repo,
           length(content) AS payload_content_len
    FROM tagged
    """,
)
def cdc_envelope_sink_contract(spark, sf_dir):
    """ENGINE-IN-THE-LOOP outbound sink contract (reference
    kafka_mock.rb:37-141): the event stream is mapped to change events,
    EMITTED through the real EnvelopeSink (envelope assembly + validity
    + size-cap predicates + epoch-fenced append) in 2 epochs, read back
    from the emitted log, and every envelope's fields — id, operation,
    message key JSON, transaction id, ISO timestamp, payload content —
    are compared against the plain-SQL reconstruction. Every validated
    event appears exactly once (producer semantics, pre-LWW)."""
    from movex_cdc_spark.streaming.sink import EnvelopeSink

    ev = _change_stream(spark, sf_dir, *_envelope_cols())
    sink = EnvelopeSink(spark, f"{_scratch_dir('envelope_sink_')}/sink", table_name="repo_files")
    for i, batch in enumerate(_epochs(ev, 2)):
        sink.emit(batch, epoch_id=i)
    return sink.read().select(
        "id",
        "operation",
        "msg_key",
        "transaction_id",
        F.col("timestamp").alias("ts_iso"),
        F.get_json_object("new_payload", "$.repo").alias("payload_repo"),
        F.length(F.get_json_object("new_payload", "$.content")).alias("payload_content_len"),
    )


@register(
    "cdc_envelope_legacy_ts",
    """
    WITH tagged AS (
      SELECT event_id AS id, strftime(ts, '%Y-%m-%dT%H:%M:%S,%f') AS base
      FROM events WHERE event_id % 20 = 0)
    SELECT 'TYPE_1' AS mode, id, base || '+0000' AS ts_legacy FROM tagged
    UNION ALL
    SELECT 'TYPE_2' AS mode, id, base || '+00:00' AS ts_legacy FROM tagged
    """,
)
def cdc_envelope_legacy_ts(spark, sf_dir):
    """ENGINE-IN-THE-LOOP legacy envelope timestamp modes (reference
    transfer_thread.rb:520-536; format-per-mode validation mirrors
    KafkaMock, kafka_mock.rb:98-141): the same event slice is emitted
    through two real EnvelopeSinks configured TYPE_1 (comma fraction
    delimiter, timezone without colon) and TYPE_2 (comma delimiter,
    timezone with colon), read back from the fenced logs, and every
    emitted timestamp string is compared against the plain-SQL
    strftime reconstruction. The sink's own per-mode anchored-regex
    validation ran at emit — a format/config mismatch would have
    rejected the row, so 0 rejects is part of what the row counts."""
    from movex_cdc_spark.streaming.sink import EnvelopeSink

    ev = (_change_stream(spark, sf_dir, *_envelope_cols())
          .filter(F.col("seq") % 20 == 0).withColumn("op", F.lit("I")))
    tdir = _scratch_dir("envelope_legacy_")
    outs = []
    for mode in ("TYPE_1", "TYPE_2"):
        sink = EnvelopeSink(
            spark, f"{tdir}/{mode}", table_name="repo_files", legacy_ts_format=mode
        )
        lin = sink.emit(ev, epoch_id=0)
        assert not lin.get("n_rejected"), f"mode {mode} rejected rows: {lin}"
        outs.append(
            sink.read().select(
                F.lit(mode).alias("mode"),
                "id",
                F.col("timestamp").alias("ts_legacy"),
            )
        )
    return outs[0].unionByName(outs[1])


@register(
    "cdc_config_broadcast_enrichment",
    """
    WITH cfg(event_type, topic, log_enabled) AS (
      VALUES ('signup', 'users', true), ('click', 'activity', true),
             ('view', 'activity', true), ('purchase', 'orders', true),
             ('error', 'dlq', false))
    SELECT c.topic, count(*) AS n, min(e.event_id) AS min_seq, max(e.event_id) AS max_seq
    FROM events e JOIN cfg c ON e.event_type = c.event_type
    WHERE c.log_enabled GROUP BY c.topic
    """,
)
def cdc_config_broadcast_enrichment(spark, sf_dir):
    """Event -> config enrichment as a broadcast hash join (SURVEY J1;
    the reference's per-event Table.find cache, transfer_thread.rb:566-587,
    becomes a once-per-batch broadcast of the config dimension)."""
    cfg = spark.createDataFrame(
        [
            ("signup", "users", True),
            ("click", "activity", True),
            ("view", "activity", True),
            ("purchase", "orders", True),
            ("error", "dlq", False),
        ],
        ["event_type", "topic", "log_enabled"],
    )
    ev = load(spark, sf_dir, "events")
    return (
        ev.join(F.broadcast(cfg), "event_type")
        .filter(F.col("log_enabled"))
        .groupBy("topic")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("event_id").alias("min_seq"),
            F.max("event_id").alias("max_seq"),
        )
    )


@register(
    "cdc_json_payload_parse",
    """
    SELECT event_id, user_id,
           CAST(props->>'k' AS BIGINT) AS prop_k
    FROM events WHERE event_id < 1000
    """,
)
def cdc_json_payload_parse(spark, sf_dir):
    """JSON payload parse (SURVEY P6/§2.10: the trigger-serialized JSON
    payload is parsed back to typed columns; engine path is from_json
    in sources/events.py)."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_id") < 1000)
    return ev.select(
        "event_id",
        "user_id",
        F.get_json_object("props", "$.k").cast("long").alias("prop_k"),
    )


@register(
    "cdc_sessionization",
    """
    WITH d AS (
      SELECT user_id, event_id, ts,
             CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY event_id))
                       > 3600000000 OR lag(ts) OVER (PARTITION BY user_id ORDER BY event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events),
    s AS (
      SELECT user_id, event_id,
             CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM d)
    SELECT user_id, session_id, count(*) AS events_in_session,
           min(event_id) AS first_seq, max(event_id) AS last_seq
    FROM s GROUP BY user_id, session_id
    """,
)
def cdc_sessionization(spark, sf_dir):
    """Gap-based sessionization (lag + running sum window) — the
    ordering-sensitive W-family composition over the event stream."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    d = ev.withColumn(
        "new_session",
        F.when(
            F.lag("ts").over(w).isNull()
            # integer-microsecond epoch keeps sub-second precision — matches
            # DuckDB epoch_us(); unix_timestamp truncates to whole seconds and
            # mis-sessionizes gaps straddling the 3600 s boundary by <1 s.
            | (epoch_us("ts") - F.lag(epoch_us("ts")).over(w) > 3600 * 1_000_000),
            1,
        ).otherwise(0),
    )
    s = d.withColumn("session_id", F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    return s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("events_in_session"),
        F.min("event_id").alias("first_seq"),
        F.max("event_id").alias("last_seq"),
    )


@register(
    "q6_selective_filter_agg",
    """
    SELECT round(sum(l_extendedprice::DECIMAL(18,2) * l_discount::DECIMAL(18,2)), 2)::DOUBLE AS revenue,
           count(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '2001-01-01 00:00:00'
      AND l_discount BETWEEN 0.02 AND 0.06
      AND l_quantity < 24
    """,
)
def q6_selective_filter_agg(spark, sf_dir):
    """TPC-H Q6 shape: highly selective conjunctive predicate + global
    agg — pure pushdown + codegen benchmark (zero shuffle rows beyond
    partial agg results)."""
    li = load(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= "2000-01-01")
        & (F.col("l_shipdate") < "2001-01-01")
        & (F.col("l_discount").between(0.02, 0.06))
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice").cast(DEC) * F.col("l_discount").cast(DEC)), 2)
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "distinct_count_per_group",
    """
    SELECT event_type, count(DISTINCT user_id) AS users, count(*) AS events
    FROM events GROUP BY event_type
    """,
)
def distinct_count_per_group(spark, sf_dir):
    """Exact distinct aggregation (two-phase expand under the hood)."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("users"), F.count(F.lit(1)).alias("events")
    )


@register(
    "cdc_multi_table_dispatch",
    f"""
    WITH tagged AS (
      SELECT CAST(user_id AS VARCHAR) AS repo,
             CASE WHEN user_id % 2 = 0 THEN 'table_a' ELSE 'table_b' END
               AS target_table,
             event_id, {OP_CASE_SQL} AS op, event_type,
             event_type || ':' || CAST(value AS VARCHAR) AS content
      FROM events),
    filtered AS (
      SELECT * FROM tagged
      WHERE NOT (target_table = 'table_b' AND op = 'U'
                 AND event_type = 'view')),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY repo ORDER BY event_id DESC)
               AS rn
      FROM filtered)
    SELECT target_table, repo, event_id AS last_seq, content,
           sha256(content) AS content_sha
    FROM ranked WHERE rn = 1 AND op <> 'D'
    """,
)
def cdc_multi_table_dispatch(spark, sf_dir):
    """ENGINE-IN-THE-LOOP multi-table multiplexing (VERDICT r5 item 2;
    reference: ONE Event_Logs queue with per-event Table_ID dispatch,
    transfer_thread.rb:390,566-587): the event stream is tagged to two
    DIFFERENTLY-CONFIGURED tables (even user_ids -> table_a, standard
    config; odd -> table_b, whose per-op trigger condition drops 'view'
    updates), serialized into the tagged payload queue shape, and
    dispatched through the real MultiplexedCdcPipeline foreachBatch
    body over 2 interleaved epochs into two real LakeTables. The union
    of both final states must match the per-partition SQL LWW with
    table_b's condition applied — per-table configs, per-table fences,
    one queue."""
    from movex_cdc_spark.config.table_config import ColumnCfg, EngineConfig, TableCfg
    from movex_cdc_spark.sources.events import to_multiplex_events
    from movex_cdc_spark.streaming.pipeline import MultiplexedCdcPipeline

    ev = _change_stream(
        spark, sf_dir,
        F.lit("c0").alias("commit"),
        F.lit("x").alias("lang"),
        F.lit(None).cast("string").alias("old_content"),
        F.lit(None).cast("timestamp").alias("ts"),
        F.lit(None).cast("long").alias("txid"),
        F.when(F.pmod(F.col("user_id"), F.lit(2)) == 0, F.lit("table_a"))
        .otherwise(F.lit("table_b"))
        .alias("__target"),
    )
    # the tagged Event_Logs queue shape, serialized by the same helper
    # the pipeline reads with (per-row tag Column)
    queue = to_multiplex_events(ev, F.col("__target"))

    def _cols():
        return [ColumnCfg("repo"), ColumnCfg("path"), ColumnCfg("commit"),
                ColumnCfg("lang"), ColumnCfg("content")]

    cfg = EngineConfig(tables={
        "table_a": TableCfg(name="table_a", key_cols=["repo", "path"],
                            columns=_cols(), key_handling="P"),
        "table_b": TableCfg(
            name="table_b", key_cols=["repo", "path"], columns=_cols(),
            conditions={"U": "NOT content LIKE 'view:%'"},
            key_handling="P",
        ),
    })
    tdir = _scratch_dir("mux_dispatch_")
    sinks = {n: _lake_table(spark, f"{tdir}/{n}", "commit", "lang", "content", "content_sha")
             for n in cfg.tables}
    pipe = MultiplexedCdcPipeline(
        spark, cfg, sinks=sinks,
        events_dir=tdir, checkpoint_dir=f"{tdir}/ck",  # dirs unused: batch drive
    )
    # two interleaved epochs through the REAL dispatch body (the
    # streaming shell around it is pytest-covered)
    for i, batch in enumerate(_epochs(queue, 2)):
        pipe._apply(batch, epoch_id=i)
    out_a, out_b = (
        t.read().select(F.lit(n).alias("target_table"), "repo", "last_seq", "content", "content_sha")
        for n, t in sinks.items()
    )
    return out_a.unionByName(out_b)


@register(
    "cdc_changes_chaining",
    f"""
    WITH tagged AS (
      SELECT CAST(user_id AS VARCHAR) AS repo, event_id, {OP_CASE_SQL} AS op,
             event_type || ':' || CAST(value AS VARCHAR) AS content
      FROM events),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY repo ORDER BY event_id DESC) AS rn
      FROM tagged)
    SELECT repo, event_id AS last_seq, content, sha256(content) AS content_sha
    FROM ranked WHERE rn = 1 AND op <> 'D'
    """,
)
def cdc_changes_chaining(spark, sf_dir):
    """ENGINE-IN-THE-LOOP changelog chaining (VERDICT r5 item 5; the
    Iceberg CDC-consumer pattern): the event stream is applied to an
    UPSTREAM LakeTable in 3 epochs; each epoch's ``changes(v-1, v)``
    output — a metadata bucket diff, never a full-table read — is fed
    to a DOWNSTREAM LakeTable as ITS change stream (change_op as op,
    last_seq as seq). After the chain drains, the DOWNSTREAM final
    state must equal the plain-SQL LWW of the original events — i.e.
    upstream state reproduced hash-exactly through the incremental
    changelog alone."""
    ev = _change_stream(spark, sf_dir).withColumn("content_sha", F.sha2("content", 256))
    tdir = _scratch_dir("changes_chain_")
    up, down = (_lake_table(spark, f"{tdir}/{t}", "content", "content_sha") for t in ("up", "down"))
    for i, batch in enumerate(_epochs(ev, 3)):
        v_before = up.current_version()
        up.merge(batch, epoch_id=i)
        # chain THIS epoch's changelog downstream (cost ∝ churn)
        down.merge(
            up.changes(v_before, up.current_version()),
            seq_col="last_seq",
            op_col="change_op",
            epoch_id=i,
        )
    return down.read().select("repo", "last_seq", "content", "content_sha")


@register(
    "dedup_jaccard_lsh_verified",
    f"""
    WITH {_SHINGLES_CTE},
    nonempty AS (SELECT doc_id, shingles FROM sh WHERE len(shingles) > 0),
    sig AS (
      SELECT doc_id,
             [list_min([substr(sha256(s), i*8 + 1, 8) for s in shingles]) for i in range(0, 8)] AS sig
      FROM nonempty),
    bands AS (
      SELECT doc_id, b AS band_idx, array_to_string(sig[b*2+1 : b*2+2], '') AS band_val
      FROM sig, unnest(range(0, 4)) AS t(b)),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       AND a.doc_id < b.doc_id),
    verified AS (
      SELECT id_a, id_b,
             len(list_intersect(sa.shingles, sb.shingles)) AS shared,
             len(sa.shingles) AS n_a, len(sb.shingles) AS n_b
      FROM cand JOIN nonempty sa ON sa.doc_id = id_a
                JOIN nonempty sb ON sb.doc_id = id_b)
    SELECT id_a, id_b, round(shared / (n_a + n_b - shared), 6) AS jaccard
    FROM verified
    WHERE round(shared / (n_a + n_b - shared), 6) >= 0.2
    """,
)
def dedup_jaccard_lsh_verified(spark, sf_dir):
    """LSH-then-verify near-dup pairs (VERDICT r5 item 7): MinHash
    banding (4 bands × 2 rows, sha256-derived so both engines derive
    the identical family) generates candidates; EXACT Jaccard — one
    array_intersect over each pair's distinct shingle arrays — runs
    ONLY on band-confirmed pairs. No all-pairs block explosion: cost ∝
    candidates × doc length, the shape that survives 100 TB where the
    exact blocks-based operator pays block² on hot shingles."""
    from movex_cdc_spark.operators.dedup import ngram_jaccard_pregated

    return ngram_jaccard_pregated(
        load(spark, sf_dir, "documents"), n=3, threshold=0.2, k=8, rows_per_band=2
    )


@register(
    "curation_decontaminate",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    grams AS (
      SELECT doc_id,
             CASE WHEN len(w) < 5 THEN []::VARCHAR[]
                  ELSE list_distinct([array_to_string(w[i:i+4], ' ')
                                      for i in range(1, greatest(len(w)-4, 0)+1)]) END AS g
      FROM toks),
    bench AS (
      SELECT DISTINCT unnest(
        CASE WHEN len(bw) < 5 THEN []::VARCHAR[]
             ELSE list_distinct([array_to_string(bw[i:i+4], ' ')
                                 for i in range(1, greatest(len(bw)-4, 0)+1)]) END) AS gram
      FROM (SELECT w[1:12] AS bw FROM toks WHERE doc_id % 37 = 0)),
    ex AS (SELECT doc_id, unnest(g) AS gram FROM grams),
    hits AS (SELECT doc_id, count(*) AS n_hit FROM ex JOIN bench USING (gram) GROUP BY 1)
    SELECT g.doc_id, len(g.g) AS n_grams, coalesce(h.n_hit, 0) AS n_hit,
           round(coalesce(h.n_hit, 0) / len(g.g), 6) AS hit_frac,
           CAST(coalesce(h.n_hit, 0) >= 1 AS INT) AS contaminated
    FROM grams g LEFT JOIN hits h USING (doc_id)
    WHERE len(g.g) > 0
    """,
)
def curation_decontaminate(spark, sf_dir):
    """Benchmark decontamination (the published any-n-gram-collision
    rule): the 'benchmark' is derived deterministically from the corpus
    itself — the 12-token prefix of every 37th document stands in for a
    leaked eval item, so contamination provably exists and the flag is
    checkable end-to-end. Benchmark n-grams broadcast; the corpus scan
    never shuffles for the probe (operators/decontam.py docstring)."""
    from movex_cdc_spark.operators.decontam import benchmark_ngram_overlap

    docs = load(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 37 == 0).select(
        F.array_join(F.slice(F.split("text", " "), 1, 12), " ").alias("text")
    )
    return benchmark_ngram_overlap(docs, bench, n=5, min_hits=1)


@register(
    "text_repetition_rules",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    tok_counts AS (
      SELECT doc_id, tok, count(*) AS c
      FROM (SELECT doc_id, unnest(w) AS tok FROM toks) GROUP BY 1, 2),
    tok_stats AS (
      SELECT doc_id, max(c) AS top_c, CAST(sum(c) AS BIGINT) AS n_tokens
      FROM tok_counts GROUP BY 1),
    gram_stats AS (
      SELECT doc_id,
             len(w) - 1 AS n_2g,
             len(list_distinct([array_to_string(w[i:i+1], ' ')
                                for i in range(1, greatest(len(w)-1, 0)+1)])) AS d_2g,
             len(w) - 2 AS n_3g,
             len(list_distinct([array_to_string(w[i:i+2], ' ')
                                for i in range(1, greatest(len(w)-2, 0)+1)])) AS d_3g
      FROM toks)
    SELECT t.doc_id, t.n_tokens,
           round(t.top_c / t.n_tokens, 6) AS top_tok_frac,
           round(CASE WHEN g.n_2g <= 0 THEN 0 ELSE 1.0 - g.d_2g / g.n_2g END, 6) AS dup_2gram_frac,
           round(CASE WHEN g.n_3g <= 0 THEN 0 ELSE 1.0 - g.d_3g / g.n_3g END, 6) AS dup_3gram_frac,
           CAST(round(t.top_c / t.n_tokens, 6) <= 0.12
                AND round(CASE WHEN g.n_2g <= 0 THEN 0 ELSE 1.0 - g.d_2g / g.n_2g END, 6) <= 0.10
                AND round(CASE WHEN g.n_3g <= 0 THEN 0 ELSE 1.0 - g.d_3g / g.n_3g END, 6) <= 0.08
                AS INT) AS keep
    FROM tok_stats t JOIN gram_stats g USING (doc_id)
    """,
)
def text_repetition_rules(spark, sf_dir):
    """Repetition quality rules (Gopher-family): top-token mass
    fraction + duplicate 2-/3-gram fractions + keep flag. The n-gram
    fractions are zero-shuffle codegen array expressions; the
    top-token fraction is a two-level map-side-combining aggregation
    (operators/textops.repetition_stats docstring)."""
    from movex_cdc_spark.operators.textops import repetition_stats

    return repetition_stats(load(spark, sf_dir, "documents"))


_BOILER_TPL = (
    "all rights reserved contact us terms of service privacy policy applies"
)


@register(
    "text_interdoc_boilerplate",
    f"""
    WITH d AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN '{_BOILER_TPL}' ELSE text END AS text
      FROM documents),
    toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM d),
    g AS (SELECT doc_id,
             CASE WHEN len(w) < 3 THEN []::VARCHAR[]
                  ELSE list_distinct([array_to_string(w[i:i+2], ' ')
                                      for i in range(1, greatest(len(w)-2, 0)+1)]) END AS grams
          FROM toks),
    ex AS (SELECT doc_id, unnest(grams) AS gram FROM g),
    dfreq AS (SELECT gram, count(*) AS df FROM ex GROUP BY 1),
    per AS (SELECT e.doc_id, count(*) AS n_grams,
                   CAST(sum(CASE WHEN f.df >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_common
            FROM ex e JOIN dfreq f USING (gram) GROUP BY 1)
    SELECT d.doc_id,
           COALESCE(p.n_grams, 0) AS n_grams,
           COALESCE(p.n_common, 0) AS n_common,
           CASE WHEN COALESCE(p.n_grams, 0) = 0 THEN 0.0
                ELSE round(p.n_common / p.n_grams, 6) END AS boiler_frac,
           CAST(CASE WHEN COALESCE(p.n_grams, 0) = 0 THEN 1
                     WHEN round(p.n_common / p.n_grams, 6) <= 0.5 THEN 1
                     ELSE 0 END AS INT) AS keep
    FROM d LEFT JOIN per p USING (doc_id)
    """,
)
def text_interdoc_boilerplate(spark, sf_dir):
    """INTER-document boilerplate (corpus-level repetition — the
    template/footer class the intra-doc Gopher rules can't see): per
    doc, the fraction of its distinct 3-grams occurring in >= 3 docs
    corpus-wide; every 7th doc is replaced by a fixed template string
    so a provably-boilerplate population exists (frac 1.0, keep=0).
    Grams are hashed to 16-hex keys before the shuffle — the exchanges
    move fixed-width keys, not n-word strings; both gram-keyed stages
    are map-side-combining and O(total grams)
    (operators/textops.interdoc_boilerplate docstring)."""
    from movex_cdc_spark.operators.textops import interdoc_boilerplate

    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0, F.lit(_BOILER_TPL))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return interdoc_boilerplate(docs, n=3, min_df=3, max_frac=0.5)


@register(
    "curation_pii_scrub",
    r"""
    WITH planted AS (
      SELECT doc_id,
             CASE WHEN doc_id % 23 = 0 THEN
               text || ' contact user' || doc_id || '@example.com or +49151' || doc_id
                    || ' ip 10.0.' || (doc_id % 256) || '.7 ssn 123-45-6789'
             ELSE text END AS t
      FROM documents),
    s1 AS (SELECT doc_id,
                  len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
                  regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t
           FROM planted),
    s2 AS (SELECT doc_id, n_email,
                  len(regexp_extract_all(t, '\b\d{3}-\d{2}-\d{4}\b')) AS n_ssn,
                  regexp_replace(t, '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g') AS t
           FROM s1),
    s3 AS (SELECT doc_id, n_email, n_ssn,
                  len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ipv4,
                  regexp_replace(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS t
           FROM s2),
    s4 AS (SELECT doc_id, n_email, n_ssn, n_ipv4,
                  len(regexp_extract_all(t, '\+\d{6,14}\b')) AS n_phone,
                  regexp_replace(t, '\+\d{6,14}\b', '<PHONE>', 'g') AS t
           FROM s3)
    SELECT doc_id, n_email, n_ssn, n_ipv4, n_phone, sha256(t) AS scrubbed_sha
    FROM s4
    """,
)
def curation_pii_scrub(spark, sf_dir):
    """PII redaction pass (operators/pii.py): emails / SSN-shaped ids /
    IPv4 / E.164 phones planted deterministically into every 23rd doc
    (so each category provably fires), scrubbed with typed tokens, and
    the scrubbed text sha256-checked against the oracle — an
    offset-or-ordering bug in any replace breaks the hash. Zero
    shuffle: pure codegen string expressions over one scan."""
    from movex_cdc_spark.operators.pii import scrub_pii

    docs = load(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 23 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"), F.col("doc_id").cast("string"),
                F.lit("@example.com or +49151"), F.col("doc_id").cast("string"),
                F.lit(" ip 10.0."), (F.col("doc_id") % 256).cast("string"),
                F.lit(".7 ssn 123-45-6789"),
            ),
        ).otherwise(F.col("text")).alias("text"),
    )
    return scrub_pii(planted).select(
        "doc_id", "n_email", "n_ssn", "n_ipv4", "n_phone",
        F.sha2("scrubbed", 256).alias("scrubbed_sha"),
    )


@register(
    "curation_chunk_documents",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sized AS (
      SELECT doc_id, w,
             CASE WHEN len(w) <= 40 THEN 1
                  ELSE 1 + (len(w) - 40 + 29) // 30 END AS n_chunks
      FROM toks)
    SELECT doc_id, CAST(i AS INT) AS chunk_id,
           len(w[i*30+1 : i*30+40]) AS n_chunk_tokens,
           array_to_string(w[i*30+1 : i*30+40], ' ') AS chunk_text
    FROM sized, unnest(range(0, n_chunks)) AS t(i)
    """,
)
def curation_chunk_documents(spark, sf_dir):
    """Context-window chunking: 40-token chunks, 10-token overlap
    (stride 30). Boundary rule is pure integer math so both engines
    cut identical chunks; the explode is narrow (zero shuffle) and
    composes with pack_token_shards without an exchange
    (operators/sampling.chunk_documents docstring)."""
    from movex_cdc_spark.operators.sampling import chunk_documents

    return chunk_documents(
        load(spark, sf_dir, "documents"), chunk_tokens=40, overlap_tokens=10
    )


# ------------------------------------------- ST2 end-to-end Kafka EOS
@register(
    "cdc_kafka_redelivery_eos",
    f"""
    WITH tagged AS (
      SELECT event_id, user_id, {OP_CASE_SQL} AS op,
             event_type || ':' || CAST(value AS VARCHAR) AS content
      FROM events),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
      FROM tagged)
    SELECT user_id, event_id AS last_seq,
           CASE op WHEN 'I' THEN 'INSERT' ELSE 'UPDATE' END AS last_operation,
           split_part(content, ':', 1) AS last_event_type,
           length(content) AS last_content_len
    FROM ranked WHERE rn = 1 AND op <> 'D'
    """,
)
def cdc_kafka_redelivery_eos(spark, sf_dir):
    """ENGINE-IN-THE-LOOP exactly-once under ADVERSARIAL REDELIVERY
    (VERDICT r6 item 1; the reference proves the same claim with its
    dockerized blackbox run, test_blackbox/run_blackbox_test.sh, and
    KafkaMock redelivery semantics, kafka_mock.rb:49-63):

      producer — the REAL ``KafkaEnvelopeWriter.kafka_frames`` wire
        bytes (byte-identical to the oracle-gated lake sink by shared
        ``EnvelopeFormat.build``), three event-time-contiguous epochs;
      hostile hop — ``adversarial_deliveries``: every 5th record
        duplicated in-epoch, every previous epoch's final-hour tail
        (its boundary record included) REPLAYED into the next delivery,
        arrival order scrambled wholesale;
      consumer — a streaming read of the staged topic, the real
        ``parse_envelope_wire`` plan, and the documented consumer-side
        EOS guard: event-time watermark + dropDuplicatesWithinWatermark
        on the envelope id (streaming/sink.py:289-297 contract);
      final state — LWW per message key over the deduped envelopes,
        DELETE-wins.

    The oracle is the duplicate-free final state computed straight from
    the undoctored events table — if any duplicate, replay, or
    reordering leaked through the guard, the LWW winner set, row count,
    or content hash would differ."""
    from movex_cdc_spark.sources.kafka import (
        adversarial_deliveries,
        parse_envelope_wire,
    )
    from movex_cdc_spark.streaming.sink import KafkaEnvelopeWriter

    ev = _change_stream(spark, sf_dir, *_envelope_cols())
    # three event-time-contiguous epochs (the trigger model: a stream
    # drains in arrival order, so redelivered tails stay inside the
    # consumer's watermark slack — the at-least-once transport contract)
    bounds = ev.select(
        F.percentile_approx("ts", [1.0 / 3, 2.0 / 3], 10000).alias("b")
    ).first()["b"]
    writer = KafkaEnvelopeWriter(spark, "test://", "envelopes")
    epochs = []
    for lo, hi in ((None, bounds[0]), (bounds[0], bounds[1]), (bounds[1], None)):
        sl = ev
        if lo is not None:
            sl = sl.filter(F.col("ts") > F.lit(lo))
        if hi is not None:
            sl = sl.filter(F.col("ts") <= F.lit(hi))
        wire, _rejected = writer.kafka_frames(sl)
        # event time rides beside the wire bytes ONLY to bound the
        # adversary's replay window (dropped from the deliveries)
        epochs.append(
            wire.withColumn(
                "__ts",
                F.to_timestamp(
                    F.get_json_object(F.col("value").cast("string"), "$.timestamp"),
                    "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
                ),
            )
        )
    deliveries = adversarial_deliveries(epochs, dup_mod=5, replay_tail_s=3600)
    tdir = _scratch_dir("kafka_eos_")
    topic_dir = f"{tdir}/topic"
    os.makedirs(topic_dir)
    for i, d in enumerate(deliveries):
        stage = f"{tdir}/stage_{i}"
        d.coalesce(1).write.parquet(stage)
        part = next(f for f in sorted(os.listdir(stage)) if f.endswith(".parquet"))
        dst = os.path.join(topic_dir, f"d-{i:03d}.parquet")
        os.replace(os.path.join(stage, part), dst)
        os.utime(dst, (1_000_000_000 + i, 1_000_000_000 + i))
    wire_schema = T.StructType(
        [T.StructField("key", T.BinaryType()), T.StructField("value", T.BinaryType())]
    )
    raw = (
        spark.readStream.schema(wire_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(topic_dir)
    )
    env = parse_envelope_wire(raw).withColumn(
        "__ts",
        F.to_timestamp(
            F.col("timestamp"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
        ),
    )
    deduped = env.withWatermark("__ts", "2 hours").dropDuplicatesWithinWatermark(["id"])
    _drain(
        deduped.writeStream.outputMode("append")
        .format("parquet")
        .option("path", f"{tdir}/out")
        .option("checkpointLocation", f"{tdir}/ckpt")
        .trigger(availableNow=True)
        .start(),
        "EOS consumer stream",
    )
    out = spark.read.parquet(f"{tdir}/out")
    w = Window.partitionBy("msg_key").orderBy(F.col("id").desc())
    final = (
        out.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("operation") != "DELETE"))
        .select(
            F.get_json_object("msg_key", "$.repo").cast("long").alias("user_id"),
            F.col("id").alias("last_seq"),
            F.col("operation").alias("last_operation"),
            F.split(F.get_json_object("new_payload", "$.content"), ":")
            .getItem(0)
            .alias("last_event_type"),
            F.length(F.get_json_object("new_payload", "$.content")).alias(
                "last_content_len"
            ),
        )
    )
    return final


# ------------------------------------------------- ops: health/status
@register(
    "cdc_engine_status",
    f"""
    WITH tagged AS (
      SELECT event_id, user_id, {OP_CASE_SQL} AS op,
             CASE WHEN event_id % 97 = 0 AND {OP_CASE_SQL} <> 'D' THEN NULL
                  ELSE event_type || ':' || CAST(value AS VARCHAR) END AS content,
             event_id % 3 AS epoch
      FROM events),
    valid AS (
      SELECT * FROM tagged WHERE NOT (content IS NULL AND op IN ('I','U'))),
    poison AS (
      SELECT * FROM tagged WHERE content IS NULL AND op IN ('I','U')),
    winners AS (
      SELECT epoch, user_id, op, event_id,
             row_number() OVER (PARTITION BY epoch, user_id
                                ORDER BY event_id DESC) AS rn
      FROM valid)
    SELECT 'status' AS stream_id,
           3 AS epochs,
           count(*) AS events_total,
           CAST(sum(CASE WHEN op = 'I' THEN 1 ELSE 0 END) AS BIGINT) AS n_insert,
           CAST(sum(CASE WHEN op = 'U' THEN 1 ELSE 0 END) AS BIGINT) AS n_update,
           CAST(sum(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT) AS n_delete,
           (SELECT count(*) FROM poison) AS n_poison,
           (SELECT max(event_id) FROM valid) AS max_seq,
           2 AS last_epoch_id,
           3 AS table_version,
           (SELECT count(*) FROM poison) AS dead_letter_rows,
           (SELECT count(*) FROM tagged
            WHERE event_id > (SELECT max(event_id) FROM valid)) AS queue_lag_events,
           TRUE AS heartbeat_fresh
    FROM winners WHERE rn = 1
    """,
)
def cdc_engine_status(spark, sf_dir):
    """ENGINE-IN-THE-LOOP operational health/status surface (VERDICT r6
    item 3; reference: /health_check/status,
    health_check_controller.rb + routes.rb:22-25): the event stream —
    with every 97th non-delete POISONED (null content) — is applied
    through the real apply_batch in 3 epochs with a live MetricsTable,
    dead-letter log, and heartbeat; then ``engine_status`` consolidates
    what the engine persisted (lineage totals, max applied seq, table
    version, quarantine counts, heartbeat freshness, queue lag against
    the staged event dir) and the deterministic projection is compared
    field-by-field against the plain-SQL reconstruction. Every number a
    deployment would page on is independently recomputed by the oracle:
    counter totals (post-LWW deduped keys per epoch — the recorded
    counter_scope), poison/dead-letter counts, max_seq, and the lag
    semantics (rows whose seq exceeds the max APPLIED seq — trailing
    quarantined rows show as lag until a later applied seq passes them,
    which is the honest read of 'pending')."""
    from movex_cdc_spark.operators.apply import DeadLetterTable, apply_batch
    from movex_cdc_spark.streaming.housekeeping import Heartbeat
    from movex_cdc_spark.streaming.lineage import MetricsTable
    from movex_cdc_spark.streaming.status import STATUS_FRAME_COLS, engine_status, status_frame

    ev = _change_stream(
        spark, sf_dir,
        content=f"CASE WHEN event_id % 97 = 0 AND {OP_CASE_SQL} <> 'D' THEN NULL ELSE {CONTENT_SQL} END",
    )
    tdir = _scratch_dir("engine_status_")
    table = _lake_table(spark, f"{tdir}/t", "content", "content_sha")
    metrics = MetricsTable(spark, f"{tdir}/metrics")
    dl = DeadLetterTable(spark, f"{tdir}/dl")
    for i, batch in enumerate(_epochs(ev, 3)):
        apply_batch(
            table,
            batch,
            epoch_id=i,
            stream_id="status",
            dead_letter=dl,
            metrics=metrics,
        )
    metrics.flush()
    ev.write.mode("overwrite").parquet(f"{tdir}/events")
    hb = Heartbeat(f"{tdir}/home")
    hb.beat()
    st = engine_status(
        spark,
        metrics_dir=f"{tdir}/metrics",
        table_dir=f"{tdir}/t",
        checkpoint_home=f"{tdir}/home",
        dead_letter_dir=f"{tdir}/dl",
        events_dir=f"{tdir}/events",
    )
    return status_frame(spark, st).select(*STATUS_FRAME_COLS)
