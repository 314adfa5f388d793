"""Runtime server-control surface — the write half of the ops story
(the read half is streaming/status.py).

Reference: the /server_control routes (config/routes.rb:39-46,
app/controllers/server_control_controller.rb):

  ===============================  ====================================
  reference endpoint               this engine
  ===============================  ====================================
  get/set_worker_threads_count     ``worker_threads_count`` — the
                                   parallelism the operator scales at
                                   runtime. 0 pauses processing (the
                                   reference allows 0 = stop all
                                   workers); >0 applies LIVE between
                                   micro-batches: the multiplexed
                                   pipeline's dispatch_parallelism, or
                                   spark.sql.shuffle.partitions for a
                                   single-table pipeline (the shuffle
                                   width is what a worker count
                                   multiplies in Spark's model).
  get/set_max_transaction_size     ``max_files_per_trigger`` — the
                                   micro-batch size bound. Applied via
                                   GRACEFUL RESTART from the same
                                   checkpoint, exactly like the
                                   reference restarts its worker pool
                                   (server_control_controller.rb:84-88
                                   restart_worker_threads): source
                                   options are fixed at query start,
                                   and the epoch fences make the
                                   stop/start exactly-once.
  get/set_log_level                ``log_level`` — live
                                   sparkContext.setLogLevel.
  terminate                        ``terminate: true`` — graceful stop,
                                   supervisor exits its loop.
  reprocess_final_errors           RetryWorker.reprocess_final_errors
                                   (streaming/retry.py) /
                                   MultiplexedCdcPipeline
                                   .reprocess_strays — invoked by the
                                   operator, not through this file.
  ===============================  ====================================

Control state is ONE JSON document behind the fs seam (atomic pointer
swap via replace_text), not an HTTP server: on a cluster the file lives
on the shared store, any node (or a thin API front) writes it, and the
driver-side supervisor applies it between micro-batches. ``revision``
is monotone so each change is applied exactly once, and the applied
revision is reported back through the status surface.
"""

from __future__ import annotations

import json
import time
from typing import Any

from movex_cdc_spark.lake.fs import DEFAULT_FS

_LOG_LEVELS = {"ALL", "DEBUG", "INFO", "WARN", "ERROR", "FATAL", "OFF", "TRACE"}


class ServerControl:
    """The control document. ``set`` validates like the reference
    controller (negative worker counts rejected,
    server_control_controller.rb:50; max transaction size >= 1,
    :76) and fails loud on unknown keys — an ops tool that silently
    accepts a typo'd knob is worse than none."""

    KNOWN = {
        "worker_threads_count",
        "max_files_per_trigger",
        "log_level",
        "terminate",
        "note",
    }

    def __init__(self, path: str, fs=None):
        self.path = path
        self.fs = fs or DEFAULT_FS

    def read(self) -> dict[str, Any]:
        try:
            return json.loads(self.fs.read_text(self.path))
        except FileNotFoundError:
            return {"revision": 0}

    def get(self, key: str, default: Any = None) -> Any:
        return self.read().get(key, default)

    def set(self, **changes: Any) -> dict[str, Any]:
        unknown = set(changes) - self.KNOWN
        if unknown:
            raise ValueError(f"unknown control keys: {sorted(unknown)}")
        if "worker_threads_count" in changes:
            w = changes["worker_threads_count"]
            # bool is an int subclass: `--set-control worker_threads_count=true`
            # would otherwise pass validation and then poison
            # spark.sql.shuffle.partitions with the string 'True' —
            # exactly the typo'd-knob failure this validator exists for
            if isinstance(w, bool) or not isinstance(w, int) or w < 0:
                raise ValueError(
                    f"worker_threads_count ({w!r}) must be an int >= 0"
                )
        if "max_files_per_trigger" in changes:
            m = changes["max_files_per_trigger"]
            if m is not None and (
                isinstance(m, bool) or not isinstance(m, int) or m < 1
            ):
                raise ValueError(
                    f"max_files_per_trigger ({m!r}) must be an int >= 1 or None"
                )
        if "log_level" in changes:
            lvl = str(changes["log_level"]).upper()
            if lvl not in _LOG_LEVELS:
                raise ValueError(f"unsupported log level {changes['log_level']!r}")
            changes["log_level"] = lvl
        doc = self.read()
        doc.update(changes)
        doc["revision"] = int(doc.get("revision", 0)) + 1
        self.fs.replace_text(self.path, json.dumps(doc, indent=1))
        return doc


class PipelineSupervisor:
    """Applies the control document to a running pipeline between
    micro-batches — the analog of the reference's in-process controller
    mutating its ThreadHandling pool (server_control_controller.rb).

    ``poll_once`` is the unit tests drive deterministically; ``run`` is
    the deployment loop. Restart-class knobs (max_files_per_trigger,
    pause/resume via worker count 0/N) gracefully stop the query and
    start a new one from the SAME checkpoint — offsets + per-sink epoch
    fences make the hop exactly-once, the property test_server_control
    asserts end-to-end. Live-class knobs (worker count > 0, log level)
    take effect at the next micro-batch without a restart.
    """

    def __init__(
        self,
        pipeline,
        control: ServerControl,
        available_now: bool = True,
        processing_time: str | None = None,
    ):
        self.pipeline = pipeline
        self.control = control
        self.available_now = available_now
        self.processing_time = processing_time
        self.query = None
        self.applied_revision: int | None = None
        self.paused = False
        self.terminated = False
        self.actions: list[str] = []  # applied-change journal (status/tests)

    # ------------------------------------------------------ internals
    def _start(self) -> None:
        self.query = self.pipeline.start(
            available_now=self.available_now,
            processing_time=self.processing_time,
        )

    def stop(self) -> None:
        """Stop the query (terminate, pause, restart or the end of
        ``run``) through the pipeline's ``stop``, which flushes its
        buffered metrics rows."""
        self.pipeline.stop(self.query)
        self.query = None

    def _apply_worker_threads(self, n: int) -> None:
        self.pipeline.dispatch_parallelism = n
        # the shuffle width is what extra workers buy in Spark's model;
        # session-conf changes apply to jobs planned AFTER the set, i.e.
        # the next micro-batch
        self.pipeline.spark.conf.set("spark.sql.shuffle.partitions", str(n))

    # --------------------------------------------------------- public
    def poll_once(self) -> dict[str, Any]:
        """Read the control doc; apply any change; keep the query in
        the desired run state. Returns {revision, applied:[...]} for
        the caller's journal."""
        doc = self.control.read()
        rev = int(doc.get("revision", 0))
        applied: list[str] = []
        if rev != self.applied_revision:
            if doc.get("terminate"):
                self.stop()
                self.terminated = True
                applied.append("terminate")
            wtc = doc.get("worker_threads_count")
            if not self.terminated and wtc is not None:
                if wtc == 0 and not self.paused:
                    self.stop()
                    self.paused = True
                    applied.append("pause (worker_threads_count=0)")
                elif wtc > 0:
                    if self.paused:
                        self.paused = False
                        applied.append("resume")
                    self._apply_worker_threads(wtc)
                    applied.append(f"worker_threads_count={wtc}")
            if not self.terminated and "max_files_per_trigger" in doc:
                mft = doc["max_files_per_trigger"]
                if mft != self.pipeline.max_files_per_trigger:
                    self.pipeline.max_files_per_trigger = mft
                    applied.append(f"max_files_per_trigger={mft} (restart)")
                    self.stop()  # restart below picks up the new option
            if doc.get("log_level"):
                self.pipeline.spark.sparkContext.setLogLevel(doc["log_level"])
                applied.append(f"log_level={doc['log_level']}")
            self.applied_revision = rev
            self.actions.extend(applied)
        if not self.terminated and not self.paused:
            if self.query is None:
                self._start()
            elif not self.query.isActive:
                # a dead query is either a drained AvailableNow run
                # (benign) or a crash — a crash must propagate, not be
                # silently restarted into a crash loop
                if self.query.exception():
                    raise self.query.exception()
                if not self.available_now:
                    self._start()
        return {"revision": rev, "applied": applied}

    def run(self, duration_s: float, poll_s: float = 1.0) -> list[str]:
        """Deployment loop: poll/apply until ``terminate`` or the
        duration elapses, then stop gracefully. Returns the action
        journal."""
        deadline = time.monotonic() + duration_s
        while not self.terminated and time.monotonic() < deadline:
            self.poll_once()
            if self.available_now and self.query is not None:
                # let an AvailableNow drain finish between polls.
                # awaitTermination takes SECONDS (it converts to ms
                # internally); passing poll_s*1000 blocked each poll up
                # to 1000×poll_s while a drain was active, so a
                # terminate/pause in the control file could go
                # unapplied for ~17 min and run() overshoot its
                # deadline by the same amount. And once the drain HAS
                # terminated, awaitTermination returns immediately —
                # fall through to a real sleep so the loop doesn't
                # busy-spin re-reading the control file.
                if self.query.awaitTermination(poll_s):
                    time.sleep(poll_s)
            else:
                time.sleep(poll_s)
        self.stop()
        return self.actions
