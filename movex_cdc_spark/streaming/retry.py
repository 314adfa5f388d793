"""Dead-letter retry re-admission (SURVEY S7/S11/ST5).

Reference flow: failed events stay queued with Retry_Count++ and an
exponential backoff gate (start_delay * 3^(retry-1)); after
error_max_retries they move to Event_Log_Final_Errors
(transfer_thread.rb:358-371,468-491; config application.rb:251-252).
Operators can later push final errors BACK into processing once the
root cause is fixed (POST /server_control/reprocess_final_errors,
server_control_controller.rb:103-170) — each row re-enters the queue
with a fresh retry budget.

Spark flow: poison rows land in the dead-letter table at retry_count=0.
Each `readmit` pass takes the backoff-eligible rows, re-validates them,
applies the now-valid ones through the normal merge path, and rewrites
the dead-letter table with retry_count+1 on the still-poison ones —
rows beyond max_retries are moved to the final-errors store.

The final-errors store is an epoch-fenced UnkeyedEventLog, NOT a plain
``mode("append")`` parquet dir. Each move between the two logs is an
append to one and a rewrite of the other; a pass that crashes between
them re-runs without duplicating rows, whatever committed to either log
in between. The re-run appends only the rows the target does not
already hold, and fences that append on the sum of the two logs'
versions it read: the token grows with every commit to either log, and
two passes that read the same versions append once.

``reprocess_final_errors`` is the operator-initiated requeue. Deviation
from the reference, documented: the reference re-INSERTs into the
Event_Logs queue table inside a DB transaction; this engine's inbound
queue is a plain directory with no commit protocol, so requeue goes
through the dead-letter store (same retry machinery, retry_count reset
to 0 = immediately eligible) — the fenced append + the rewrite of the
rows read give the INSERT-and-DELETE transactionality the reference
gets from Oracle.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movex_cdc_spark.lake.append_log import UnkeyedEventLog
from movex_cdc_spark.lake.table import LakeTable
from movex_cdc_spark.operators.apply import DeadLetterTable, apply_batch, backoff_elapsed
from movex_cdc_spark.session import pinned_now
from movex_cdc_spark.sqltext import ident, literal
from movex_cdc_spark.sources.events import EVENT_COLS

# A dead-letter row's identity: its origin (stream, epoch, event seq)
# and its retry state, which every rewrite advances. A compaction of the
# dead-letter log copies rows as they are, so the identity survives it.
_ROW_ID = ("stream_id", "epoch_id", "seq", "retry_count", "last_error_time")


def _missing(rows: DataFrame, held: DataFrame, key: tuple[str, ...]) -> DataFrame:
    """The ``rows`` whose ``key`` (NULL-safe) no row of ``held`` has."""
    on = " AND ".join(f"r.{ident(c)} <=> h.{ident(c)}" for c in key)
    return rows.alias("r").join(held.select(*key).alias("h"), F.expr(on), "left_anti")


class RetryWorker:
    def __init__(
        self,
        spark: SparkSession,
        table: LakeTable,
        dead_letter: DeadLetterTable,
        final_errors_dir: str,
        max_retries: int = 5,
        start_delay_s: int = 20,
    ):
        self.spark = spark
        self.table = table
        self.dl = dead_letter
        self.final_errors_dir = final_errors_dir
        # retry-exhausted rows (reference: Event_Log_Final_Errors)
        self.final = UnkeyedEventLog.open(spark, final_errors_dir, fs=self.dl.log.fs)
        self.max_retries = max_retries
        self.start_delay_s = start_delay_s

    def readmit(self, epoch_id: int | None = None, stream_id: str = "retry") -> dict[str, Any]:
        # ONE dead-letter metadata read for the pass: the rows it reads
        # and the rows its rewrite replaces
        m = self.dl.log.meta()
        df = self.dl.read(m)
        if df is None:
            return {"eligible": 0}
        # Pin ONE wall-clock instant for the whole pass (``pinned_now``):
        # readmit runs up to four Spark actions (counts agg, heal merge,
        # exhausted write, dl.replace rewrite), and a row whose backoff
        # expired between them would be counted eligible+healed yet
        # dropped from the rewrite — silent row loss.
        now = pinned_now(self.spark)
        eligible_pred = backoff_elapsed(now, self.start_delay_s)
        eligible = df.filter(eligible_pred)
        waiting = df.filter(~eligible_pred)

        # re-validate: a row is healed iff it now passes THE quarantine
        # rule that sent it here (operators/filters.poison_predicate —
        # content present for I/U AND a known op). The previous check
        # (`content IS NOT NULL OR op = 'D'`) had two defects this
        # single-source form fixes: (a) on a NULL-op row it evaluated
        # NULL, so the row fell out of BOTH the healed and still-bad
        # sides and was silently DELETED from the dead letter at the
        # rewrite below (3VL row loss); (b) a content-present row with
        # a junk/NULL op counted as "healed" and was re-applied, only
        # to be re-poisoned downstream. poison_predicate is total
        # (never NULL) by construction, so every eligible row lands in
        # exactly one of healed/still_bad.
        from movex_cdc_spark.operators.filters import poison_predicate

        healed_pred = ~poison_predicate()
        healed = eligible.filter(healed_pred).select(
            *[c for c in EVENT_COLS if c in df.columns]
        )
        still_bad = eligible.filter(~healed_pred)

        # ONE aggregate over the (small) dead-letter store for all three
        # decision counts — counted BEFORE the swap below invalidates
        # this read's lineage
        counts = eligible.agg(
            F.sum(F.when(healed_pred, 1).otherwise(0)).alias("healed"),
            F.sum(F.when(~healed_pred, 1).otherwise(0)).alias("still"),
            F.sum(
                F.when(~healed_pred & (F.col("retry_count") + 1 > self.max_retries), 1)
                .otherwise(0)
            ).alias("final"),
        ).first()
        n_healed = int(counts["healed"] or 0)
        n_still = int(counts["still"] or 0)
        n_final = int(counts["final"] or 0)
        if n_healed:
            apply_batch(self.table, healed, epoch_id=epoch_id, stream_id=stream_id)

        # post-increment comparison: a row gets max_retries retry passes before
        # finalizing, matching the reference (transfer_thread.rb:476 retries
        # while retry_count < error_max_retries).
        exhausted = still_bad.filter(F.col("retry_count") + 1 > self.max_retries)
        retrying = (
            still_bad.filter(F.col("retry_count") + 1 <= self.max_retries)
            .withColumn("retry_count", F.col("retry_count") + 1)
            .withColumn("last_error_time", F.lit(now))
        )
        if n_final:
            # a crashed pass may have appended some of these rows already
            # (its rewrite never ran); the re-run still finalises rows
            # first exhausted after the crash (module docstring)
            fm = self.final.meta()
            done = self.final.read(fm)
            if done.columns:
                exhausted = _missing(exhausted, done, _ROW_ID)
            self.final.append(
                exhausted.withColumn("error_time", F.lit(now)),
                stream_id="final",
                epoch_id=m["version"] + fm["version"],
            )

        # rewrite the segments read above as waiting ∪ retrying, in one
        # atomic commit (write-new-then-commit: a crash never loses
        # rows, in-flight readers keep their old listing); poison the
        # stream appended meanwhile stays listed
        self.dl.replace(waiting.unionByName(retrying), m)
        return {
            "eligible": n_healed + n_still,
            "healed": n_healed,
            "final_errors": n_final,
        }

    def final_errors(self) -> DataFrame | None:
        """The final-errors rows; None while the store is empty."""
        df = self.final.read()
        return df if df.columns else None

    def reprocess_final_errors(self, where: str | None = None) -> dict[str, Any]:
        """Operator-initiated requeue of final errors (reference:
        POST /server_control/reprocess_final_errors,
        server_control_controller.rb:103-170 — re-INSERT into Event_Logs
        with a fresh retry budget, DELETE from final errors, per
        schema/table scope).

        ``where`` is an optional SQL predicate selecting which final
        rows to requeue (the reference's schema/table scope generalized
        — e.g. ``"op = 'I'"`` or ``"error_time < timestamp'...'"``);
        default all.

        Selected rows return to the dead-letter store with
        retry_count=0 (immediately eligible for the next readmit pass,
        which re-validates them under the CURRENT config) and are
        removed from the final store. Exactly-once across a crash
        between the two commits (module docstring): a requeued row keeps
        its ``error_time``, so a re-run finds the rows a crashed call
        already requeued in the dead-letter store and appends only the
        rest, then the removal re-runs.
        """
        m = self.final.meta()
        df = self.final.read(m)
        if not df.columns:
            return {"reprocessed": 0, "remaining": 0}
        # coalesce: a predicate that evaluates NULL on a row (e.g.
        # ``op = 'I'`` over a NULL op) would otherwise drop the row
        # from BOTH the selected AND the remaining side — silently
        # deleting it from the final store at the replace below. An
        # undecidable scope predicate means NOT selected, never lost.
        pred = F.coalesce(F.expr(where), F.lit(False)) if where else F.lit(True)
        selected = df.filter(pred)
        remaining = df.filter(~pred)

        # strip the bookkeeping DeadLetterTable.append re-derives; keep
        # event columns, the original quarantine reason and the time the
        # row was finalised, which ties the requeued copy to this row
        keep = [c for c in (*EVENT_COLS, "error_msg", "error_time") if c in df.columns]
        requeue = selected.select(*keep)
        stream_id = f"reprocess:{self.final_errors_dir}"
        dm = self.dl.log.meta()
        held = self.dl.read(dm)
        if held is not None and "error_time" in held.columns:
            requeue = _missing(requeue, held.filter(f"stream_id = {literal(stream_id)}"),
                               ("seq", "error_time"))
        n = self.dl.append(requeue, stream_id=stream_id, epoch_id=m["version"] + dm["version"])
        # count BEFORE the swap invalidates this read's lineage (the
        # count-before-swap rule readmit follows)
        n_remaining = remaining.count()
        # n == 0 with selected rows present means a crashed earlier call
        # already requeued them: fall through to the removal either way
        self.final.replace(remaining, m)
        return {
            "reprocessed": int(n),
            "remaining": int(n_remaining),
        }
