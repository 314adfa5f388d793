"""The benchmark's workloads. All are closed loops: a CDC round is one
``Trigger.AvailableNow`` drain with one file per trigger, so each epoch
starts when the previous one commits, and the next round is staged only
after the drain returns.

Each workload returns a ``Run``: the end-to-end numbers, the raw
per-epoch progress, and the correctness verdict.
"""

from __future__ import annotations

import copy
import json
import os
import shutil
import threading
import time
from dataclasses import dataclass, field
from typing import Any

import pandas as pd

import calc
import stage as stg
from calc import log
from gate import state_mismatches
from tracer import count_jobs

SETUP_REPS = 3
READS = 3
DRAIN_TIMEOUT_S = 120

CDC_SHAPES = {
    # 80k-event epochs, 4 per key, over a 20k-key space: every bucket
    # is touched and the per-epoch fixed cost is a minor share
    "backlog_replay": stg.CdcShape(n_events=160_000, n_files=2, p_poison=0.01),
    # ~1 % of the table's keys per epoch: fixed per-trigger cost and
    # copy-on-write amplification dominate; no poison, so no dead letters
    "trickle_commits": stg.CdcShape(n_events=1_000, n_files=5, p_poison=0.0),
    # configured tables behind one multiplexed queue; poison in t0 only.
    # Two epochs per round: each costs ~7 s of mostly fixed generic-path
    # work, so a third would not fit the per-run time budget
    "mux_config": stg.CdcShape(n_events=8_000, n_files=2, p_poison=0.01, n_tables=4,
                               base=False),
}


@dataclass
class Ctx:
    spark: Any
    root: str  # this run's scratch dir inside the checkout
    stage_root: str  # staged inputs, kept across runs
    seed: int
    seconds: float
    session_s: float
    tracer: Any = None  # tracer.Tracer in traced runs, else None


@dataclass
class Run:
    setup_s: float
    wall_s: float = 0.0  # wall of the measured rounds
    op_walls: list[float] = field(default_factory=list)
    round_rates: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    peak_rss_mb: float = 0.0
    progress: list[dict] = field(default_factory=list)  # measured epochs
    extra: dict[str, Any] = field(default_factory=dict)


class RssSampler:
    """Peak resident set of this process plus the Spark JVM, from /proc."""

    def __init__(self, pids: list[int], interval_s: float = 0.05):
        self.pids = pids
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _rss(self) -> int:
        total = 0
        for pid in self.pids:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (FileNotFoundError, ProcessLookupError):
                pass
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._rss())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_bytes = max(self.peak_bytes, self._rss())

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20


def rss_pids(spark) -> list[int]:
    return [os.getpid(), spark.sparkContext._gateway.proc.pid]


def progress_dicts(q) -> list[dict]:
    out = []
    for p in q.recentProgress:
        d = p if isinstance(p, dict) else json.loads(p.json)
        if d.get("numInputRows", 0) > 0:
            out.append(d)
    return out


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


@dataclass
class CdcEnv:
    pipe: Any
    tables: dict[str, Any]
    dead_letter: Any
    events_dir: str


def _excl_condition() -> str:
    from movex_cdc_spark.datagen import EXCLUDE_MARKER

    return f"content IS NULL OR NOT contains(content, '{EXCLUDE_MARKER}')"


def _setup_cdc(ctx: Ctx, name: str, stage: str, d: str) -> CdcEnv:
    """Table create, base bootstrap and pipeline construction."""
    from pyspark.sql import functions as F

    from movex_cdc_spark.lake.table import LakeTable
    from movex_cdc_spark.operators.apply import KEY_COLS, REPO_FILES_SCHEMA
    from movex_cdc_spark.streaming.pipeline import CdcStreamPipeline, MultiplexedCdcPipeline

    spark = ctx.spark
    shape = CDC_SHAPES[name]
    events_dir = os.path.join(d, "events")
    common = dict(
        events_dir=events_dir,
        checkpoint_dir=os.path.join(d, "ckpt"),
        dead_letter_dir=os.path.join(d, "dl"),
        metrics_dir=os.path.join(d, "metrics"),
        max_files_per_trigger=1,
    )
    if shape.n_tables == 1:
        table = LakeTable.create(spark, os.path.join(d, "lake"), REPO_FILES_SCHEMA,
                                 KEY_COLS, n_buckets=32)
        base = spark.read.parquet(os.path.join(stage, "base.parquet")).drop("last_seq", "deleted")
        table.overwrite(base.withColumn("content_sha", F.sha2("content", 256)))
        pipe = CdcStreamPipeline(spark, table, salted=True, payload_format=True, **common)
        return CdcEnv(pipe, {"t0": table}, pipe.dead_letter, events_dir)

    from movex_cdc_spark.config.table_config import repo_files_config

    cfg = repo_files_config()
    proto = cfg.tables.pop("repo_files")
    # the oracle drops marked events on every op; state that for D too
    proto.conditions["D"] = _excl_condition()
    names = stg.load_meta(stage)["tables"]
    sinks = {}
    for tname in names:
        c = copy.deepcopy(proto)
        c.name = tname
        cfg.tables[tname] = c
        sinks[tname] = LakeTable.create(spark, os.path.join(d, tname), REPO_FILES_SCHEMA,
                                        KEY_COLS, n_buckets=8)
    pipe = MultiplexedCdcPipeline(spark, cfg, sinks=sinks, **common)
    return CdcEnv(pipe, sinks, pipe.dead_letter, events_dir)


def _drain(pipe) -> tuple[float, list[dict]]:
    """One closed-loop backlog drain: query start to termination."""
    from pyspark.errors import StreamingQueryException

    t0 = time.perf_counter()
    q = pipe.start(available_now=True)
    try:
        done = q.awaitTermination(DRAIN_TIMEOUT_S)
    except StreamingQueryException as e:
        raise RuntimeError(str(e)[:500]) from e
    if pipe.metrics is not None:
        pipe.metrics.flush()
    wall = time.perf_counter() - t0
    if not done:
        q.stop()
        raise TimeoutError(f"drain did not finish within {DRAIN_TIMEOUT_S} s")
    return wall, progress_dicts(q)


def run_cdc(ctx: Ctx, name: str) -> Run:
    shape = CDC_SHAPES[name]
    stage = stg.stage_cdc(ctx.stage_root, name, shape, ctx.seed)
    meta = stg.load_meta(stage)
    log("staged")
    setups = []
    for i in range(SETUP_REPS):
        d = os.path.join(ctx.root, f"run-{name}-{i}")
        shutil.rmtree(d, ignore_errors=True)
        t0 = time.perf_counter()
        env = _setup_cdc(ctx, name, stage, d)
        setups.append(time.perf_counter() - t0)
        if i < SETUP_REPS - 1:
            shutil.rmtree(d)
    if ctx.tracer is not None:
        ctx.tracer.wrap_batch(env.pipe, count_jobs(ctx.spark))

    # warm-up: a small round 0 compiles every plan the rounds run
    t0 = time.perf_counter()
    stg.emit_round(stage, env.events_dir, 0)
    _, warm_progress = _drain(env.pipe)
    warm_s = time.perf_counter() - t0
    run = Run(setup_s=ctx.session_s + calc.median(setups) + warm_s)
    run.attempted = len(warm_progress)
    run.extra["warm_epochs"] = len(warm_progress)
    log(f"set up: reps {[round(x, 2) for x in setups]} s, warm-up {warm_s:.2f} s")

    rounds = 0
    with RssSampler(rss_pids(ctx.spark)) as rss:
        # start a round only while it is expected to end within the budget
        while rounds == 0 or run.wall_s * (rounds + 1) / rounds <= ctx.seconds:
            n = stg.emit_round(stage, env.events_dir, rounds + 1)
            try:
                wall, prog = _drain(env.pipe)
            except (RuntimeError, TimeoutError) as e:
                run.attempted += shape.n_files
                run.failed += shape.n_files
                run.extra["error"] = str(e)
                break
            rounds += 1
            run.attempted += len(prog)
            run.wall_s += wall
            run.round_rates.append(n / wall)
            run.op_walls += [p["durationMs"]["triggerExecution"] / 1000 for p in prog]
            run.progress += prog
    run.peak_rss_mb = rss.peak_mb
    run.extra["rounds"] = rounds
    log(f"measured {rounds} rounds, {len(run.op_walls)} epochs, {run.wall_s:.2f} s")

    first = env.tables[sorted(env.tables)[0]]
    reads = []
    for _ in range(READS):
        t0 = time.perf_counter()
        noop(first.read())
        reads.append(time.perf_counter() - t0)
    run.extra["read_s"] = reads

    # correctness gate: every table equals its oracle; dead letters hold
    # exactly the planted poison of every drained file
    want = pd.read_parquet(os.path.join(stage, "oracle.parquet"))
    bad = 0
    for tname, table in env.tables.items():
        got = table.read().select("repo", "path", "content_sha").toPandas()
        bad += state_mismatches(got, want[want["table_name"] == tname])
    per_round = sum(f["poison"] for f in meta["files"])
    want_dl = meta["warm"]["poison"] + rounds * per_round
    dl = env.dead_letter.read() if env.dead_letter is not None else None
    got_dl = 0 if dl is None else dl.count()
    run.extra["input_sizes"] = {
        "events_per_round": sum(f["events"] for f in meta["files"]),
        "files_per_round": shape.n_files, "warm_events": meta["warm"]["events"],
        "base_rows": meta["base_rows"], "tables": len(meta["tables"]),
    }
    run.extra.update(state_mismatches=bad, dead_letters=got_dl, dead_letters_want=want_dl,
                     files=meta["files"], n_files=shape.n_files,
                     table_paths={t: tb.path for t, tb in env.tables.items()})
    if bad or got_dl != want_dl:
        # a state check cannot tell which epoch broke it: fail them all
        run.failed = run.attempted
    return run

