"""movex_cdc_spark benchmark.

    python3 perfbench/run.py --workload trickle_commits --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. Stages seeded inputs under
``.perfbench_work/`` (cached per seed), runs one workload at
``local[nproc]`` through the engine's public entry points, checks the
outputs against an oracle, and prints one JSON object as the last line:
the end-to-end metrics with ``--trace 0``, the per-layer metrics from a
traced run with ``--trace 1``. See perfbench/METRICS.md.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import platform
import shutil
import subprocess
import sys
import tempfile
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# backlog_replay is runnable but not gated in BENCHMARK.json: the
# single-core reference and the write-amplification contrast use it
WORKLOADS = ("backlog_replay", "trickle_commits", "mux_config")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=len(os.sched_getaffinity(0)),
                    help="local[N] cores (default: nproc)")
    return ap.parse_args(argv)


def git_commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None  # not a git checkout; do not let git search parent dirs
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def start_spark(local: str, cpus: int):
    from movex_cdc_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        cpus=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
            # a fixed, pre-touched heap: the JVM's resident set then does
            # not depend on when G1 chose to grow the heap
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": "-Xms2g -XX:+AlwaysPreTouch",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    import movex_cdc_spark  # noqa: F401 -- fail before any work when the engine is absent

    from bench import host_calibration  # the repo's fixed-work host-speed probe

    import layers
    import workloads as wl
    from calc import log
    from tracer import Tracer

    work = os.path.join(ROOT, ".perfbench_work")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    # keep every temp file inside the checkout: Python's, the JVM's, and
    # the JVM perf-data file that otherwise lands in /tmp
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = local
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={local}"
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": args.cpus, "git_commit": git_commit(),
        "python": platform.python_version(), "loadavg_1m_before": os.getloadavg()[0],
    }
    # process start to session ready, without the calibration probe
    t_cal = time.perf_counter()
    record["host_calibration"] = host_calibration()
    t_spark = time.perf_counter()
    spark = start_spark(local, args.cpus)
    session_s = (t_cal - T_START) + (time.perf_counter() - t_spark)
    log(f"session ready in {session_s:.2f} s")
    try:
        tracer = Tracer().install() if args.trace else None
        try:
            ctx = wl.Ctx(spark=spark, root=run_dir, stage_root=work, seed=args.seed,
                         seconds=args.seconds, session_s=session_s, tracer=tracer)
            run = wl.run_cdc(ctx, args.workload)
        finally:
            if tracer is not None:
                tracer.uninstall()
        e2e = layers.end_to_end(run)
        if args.trace:
            metrics = layers.per_layer(run, tracer.spans, e2e)
            with open(os.path.join(work, f"spans-{args.workload}.jsonl"), "w") as f:
                for sp in tracer.spans:
                    f.write(json.dumps(dataclasses.asdict(sp), default=str) + "\n")
        else:
            metrics = {k: {"value": v, "unit": layers.E2E_UNITS[k]} for k, v in e2e.items()}
    finally:
        stop_spark(spark)
        log("stopped")
    record["loadavg_1m_after"] = os.getloadavg()[0]
    record.update({k: v for k, v in run.extra.items() if k in layers.RECORD_KEYS})
    shutil.rmtree(run_dir, ignore_errors=True)
    with open(os.path.join(work, f"last-{args.workload}-trace{args.trace}.json"), "w") as f:
        json.dump({"record": record, "metrics": metrics}, f, indent=1, default=str)
    print(json.dumps({"record": record}, default=str))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
