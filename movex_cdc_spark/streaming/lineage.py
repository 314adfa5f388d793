"""Per-batch lineage / metrics table (reference A1/A3/W4: the
Statistics table written by StatisticCounterConcentrator,
statistic_counter_concentrator.rb:16-87, and the worker high-water
marks, transfer_thread.rb:39-44).

One row per (stream_id, epoch_id): event counts per op, max applied
seq, buckets touched, merge latency. The writer BUFFERS rows in driver
memory and flushes every ``FLUSH_EVERY`` epochs as ONE parquet file
written directly with pyarrow — no Spark job, no 1-row files. This is
the same design as the reference's concentrator, which collects
per-transfer counters in memory and flushes them periodically in bulk
(statistic_counter_concentrator.rb:16-87); the trade is identical too:
a crash loses at most the unflushed window of *metrics* (the data path
itself is exactly-once via the lake-table fence). The rollup job
compresses old rows to hourly/daily grain exactly like the reference's
CompressStatistics (compress_statistics.rb:26-59).
"""

from __future__ import annotations

import os
import uuid
from datetime import datetime, timezone
from typing import Any

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

METRICS_SCHEMA = T.StructType(
    [
        T.StructField("stream_id", T.StringType()),
        T.StructField("epoch_id", T.LongType()),
        T.StructField("table_version", T.LongType()),
        T.StructField("events", T.LongType()),
        T.StructField("n_insert", T.LongType()),
        T.StructField("n_update", T.LongType()),
        T.StructField("n_delete", T.LongType()),
        T.StructField("n_poison", T.LongType()),
        T.StructField("max_seq", T.LongType()),
        T.StructField("buckets_touched", T.IntegerType()),
        T.StructField("merge_latency_s", T.DoubleType()),
        # what the `events` counters COUNT for this row: the streaming
        # flow records pre-LWW valid events, the batch flow (apply_batch)
        # post-LWW deduped keys — persisted so rows are self-describing
        # and the two scopes are never mixed silently (ADVICE r4)
        T.StructField("counter_scope", T.StringType()),
        T.StructField("end_ts", T.TimestampType()),
    ]
)

# The parquet type of each METRICS_SCHEMA type. Timestamps stay naive
# ``timestamp("us")``, as every metrics file written so far has them.
_ARROW_TYPES = {
    T.StringType(): pa.string(),
    T.LongType(): pa.int64(),
    T.IntegerType(): pa.int32(),
    T.DoubleType(): pa.float64(),
    T.TimestampType(): pa.timestamp("us"),
}
_ARROW_SCHEMA = pa.schema([pa.field(f.name, _ARROW_TYPES[f.dataType]) for f in METRICS_SCHEMA.fields])
# integer columns: counters may arrive as numpy or Spark-row ints
_INT_COLS = [f.name for f in METRICS_SCHEMA.fields if isinstance(f.dataType, (T.LongType, T.IntegerType))]
# buffered rows per parquet file
FLUSH_EVERY = 16


class MetricsTable:
    """Driver-local buffered metrics writer. Deliberately NOT behind the
    lake fs seam: rows are flushed with pyarrow from the driver (no
    Spark job, no 1-row files), and losing the unflushed window on a
    crash is the documented trade (the data path is exactly-once; the
    reference's concentrator makes the same trade). On a cluster point
    ``path`` at a shared mount, or swap ``pq.write_table`` to an
    fsspec filesystem — pyarrow accepts one directly."""

    def __init__(self, spark: SparkSession, path: str):
        import threading

        self.spark = spark
        self.path = path
        self._buffer: list[dict[str, Any]] = []
        # the multiplexed pipeline appends from concurrent per-table
        # dispatch threads; an unguarded flush would snapshot the buffer
        # while another thread appends, then clear() rows it never wrote
        self._lock = threading.Lock()

    def append(self, record: dict[str, Any]) -> None:
        row = {f.name: record.get(f.name) for f in METRICS_SCHEMA.fields}
        if row["end_ts"] is None:
            row["end_ts"] = datetime.now(timezone.utc).replace(tzinfo=None)
        for k in _INT_COLS:
            if row[k] is not None:
                row[k] = int(row[k])
        with self._lock:
            self._buffer.append(row)
            rows = list(self._buffer) if len(self._buffer) >= FLUSH_EVERY else None
            if rows:
                self._buffer.clear()
        if rows:
            self._write(rows)

    def flush(self) -> int:
        """Write buffered rows as one parquet file. Returns rows flushed."""
        with self._lock:
            rows = list(self._buffer)
            self._buffer.clear()
        if not rows:
            return 0
        self._write(rows)
        return len(rows)

    def _write(self, rows: list[dict[str, Any]]) -> None:
        os.makedirs(self.path, exist_ok=True)
        cols = {f.name: [r[f.name] for r in rows] for f in METRICS_SCHEMA.fields}
        tbl = pa.table(cols, schema=_ARROW_SCHEMA)
        tmp = os.path.join(self.path, f".tmp-{uuid.uuid4().hex}")
        pq.write_table(tbl, tmp)
        os.replace(tmp, os.path.join(self.path, f"metrics-{uuid.uuid4().hex}.parquet"))

    def read(self) -> DataFrame | None:
        self.flush()
        try:
            return self.spark.read.schema(METRICS_SCHEMA).parquet(self.path)
        except Exception:
            return None

    def rollup(self, grain: str = "1 hour") -> DataFrame | None:
        """Tumbling-window compression of per-epoch rows (reference A3:
        GROUP BY table_id, operation, TRUNC(ts) ... replace with SUM,
        compress_statistics.rb:26-59) — here a single shuffle, no
        20000-rows-per-pass loop needed."""
        df = self.read()
        if df is None:
            return None
        # counter_scope joins the grouping so a stream that switched
        # apply flows mid-history (streaming ↔ batch) can never sum
        # pre-LWW event counts with post-LWW key counts into one cell —
        # the same never-mix rule the per-epoch rows carry (ADVICE r4)
        return (
            df.groupBy(
                F.window("end_ts", grain).alias("w"), "stream_id", "counter_scope"
            )
            .agg(
                F.sum("events").alias("events"),
                F.sum("n_insert").alias("n_insert"),
                F.sum("n_update").alias("n_update"),
                F.sum("n_delete").alias("n_delete"),
                F.sum("n_poison").alias("n_poison"),
                F.max("max_seq").alias("max_seq"),
                F.sum("merge_latency_s").alias("merge_latency_s"),
            )
            .select(F.col("w.start").alias("window_start"), "stream_id",
                    "counter_scope", "events", "n_insert", "n_update", "n_delete",
                    "n_poison", "max_seq", "merge_latency_s")
        )
