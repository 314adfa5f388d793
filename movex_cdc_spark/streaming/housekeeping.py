"""Housekeeping jobs (SURVEY ST8/ST10).

Reference: drop drained Event_Logs partitions (housekeeping.rb:45-107),
final-errors retention after final_errors_keep_hours
(housekeeping_final_errors.rb:26-66), and single-instance heartbeat
fencing (heartbeat.rb:12-44).

Spark analogs: lake-table snapshot expiry (LakeTable.expire_snapshots),
age-based retention on the final-errors log, and a heartbeat lockfile
guarding one writer per checkpoint."""

from __future__ import annotations

import json
import os
import socket
import time

from pyspark.sql import functions as F

from movex_cdc_spark.session import pinned_now


def retain_recent(log, ts_col: str = "error_time", keep_hours: int = 96) -> int:
    """Age out rows older than ``keep_hours`` from an UnkeyedEventLog
    (final-errors retention, ``RetryWorker.final``) through the log's
    atomic rewrite of the rows read; returns rows kept. Rows are classified against
    one pinned instant and counted before the swap; nothing is rewritten
    when nothing ages out."""
    m = log.meta()
    df = log.read(m)
    if ts_col not in df.columns:
        return 0  # nothing logged yet
    fresh = F.col(ts_col) >= F.lit(pinned_now(log.spark)) - F.expr(
        f"make_interval(0,0,0,0,{keep_hours},0,0)"
    )
    counts = df.agg(F.count(F.when(fresh, 1)).alias("kept"), F.count(F.lit(1)).alias("all")).first()
    if counts["kept"] < counts["all"]:
        log.replace(df.filter(fresh), m)
    return counts["kept"]


def housekeep_unkeyed_log(log, target_files: int = 4, keep_last: int = 2) -> dict:
    """Sink-side ST8 in one pass over an UnkeyedEventLog (envelope sink
    or dead-letter store): compact the per-epoch small segments into
    ``target_files``, then reap segment dirs retired more than
    ``keep_last`` listing versions ago — any reader that planned against
    a retained listing has finished by then (the same retention contract
    as LakeTable.expire_snapshots)."""
    compaction = log.compact_segments(target_files=target_files)
    expired = log.expire_segments(keep_last=keep_last)
    return {"compaction": compaction, "segments_expired": expired}


class Heartbeat:
    """Single-writer fencing for a pipeline home directory (reference
    heartbeat.rb: error if a FOREIGN heartbeat is younger than 2 min).

    Not a distributed lock — the same scope as the reference: a guard
    against accidentally starting two instances on one store. The hard
    exactly-once guarantee still comes from the lake table's atomic
    version commit, which rejects the loser of any true race."""

    def __init__(self, home: str, instance: str | None = None, stale_s: int = 120,
                 fs=None):
        from movex_cdc_spark.lake.fs import DEFAULT_FS

        self.path = os.path.join(home, "_heartbeat.json")
        self.instance = instance or f"{socket.gethostname()}-{os.getpid()}"
        self.stale_s = stale_s
        # the guard only works if every instance reads the SAME file —
        # a scheme-qualified home (hdfs://...) must go through the fs
        # seam, or each node would "guard" its own local junk path
        self.fs = fs or DEFAULT_FS
        self.home = home

    def beat(self) -> None:
        foreign = self.foreign_active()
        if foreign:
            raise RuntimeError(
                f"another instance {foreign!r} heartbeated within {self.stale_s}s — refusing to run"
            )
        self.fs.makedirs(self.home, exist_ok=True)
        self.fs.replace_text(
            self.path, json.dumps({"instance": self.instance, "ts": time.time()})
        )

    def foreign_active(self) -> str | None:
        try:
            hb = json.loads(self.fs.read_text(self.path))
        except (FileNotFoundError, json.JSONDecodeError):
            return None
        if hb.get("instance") != self.instance and time.time() - hb.get("ts", 0) < self.stale_s:
            return hb.get("instance")
        return None
