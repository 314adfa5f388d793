"""Round-8 measurement harness.

``bench.py`` is FROZEN for driver measurement; this file carries the
optimization round's extra probes (guide §1.4 noop-sink isolation,
per-phase timing of the cdc_apply epochs, and plan capture for
plans/r08/). Nothing here caches results across runs — every probe
computes from the staged parquet inputs.

Modes:
    python bench_extra.py --apply-phases   # per-epoch phase walls of cdc_apply
    python bench_extra.py --isolate [q ..] # noop-sink walls per headline query
    python bench_extra.py --explain TAG [q ..]  # plans/r08/<q>_<TAG>.txt
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

import bench  # noqa: E402  (frozen harness reused, never modified)

SF_DIR = bench.SF_DIR
CPUS = bench.CPUS


def run_apply_phases(spark, workdir: str, n_events: int) -> dict:
    """One cdc_apply pipeline run, reporting the per-epoch lineage
    timings the merge records (probe/write/listing/commit + the
    dead-letter append that materializes the micro-batch cache)."""
    from pyspark.sql import functions as F

    from movex_cdc_spark.lake.table import LakeTable
    from movex_cdc_spark.operators.apply import KEY_COLS, REPO_FILES_SCHEMA
    from movex_cdc_spark.streaming.pipeline import CdcStreamPipeline

    stage, _ = bench._stage_cdc_input(workdir, n_events)
    run_dir = os.path.join(workdir, "run-phases")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    table = LakeTable.create(
        spark, os.path.join(run_dir, "lake"), REPO_FILES_SCHEMA, KEY_COLS,
        n_buckets=max(32, spark.sparkContext.defaultParallelism),
    )
    base = spark.read.parquet(os.path.join(stage, "base.parquet")).drop("last_seq", "deleted")
    table.overwrite(base.withColumn("content_sha", F.sha2("content", 256)))
    pipe = CdcStreamPipeline(
        spark, table,
        events_dir=os.path.join(stage, "events_json"),
        checkpoint_dir=os.path.join(run_dir, "ckpt"),
        dead_letter_dir=os.path.join(run_dir, "dl"),
        metrics_dir=os.path.join(run_dir, "metrics"),
        max_files_per_trigger=bench.FILES_PER_EPOCH,
        payload_format=True,
    )
    t0 = time.monotonic()
    epochs = pipe.run_available_now(timeout_s=3600)
    wall = time.monotonic() - t0
    rows = table.read().count()
    shutil.rmtree(run_dir, ignore_errors=True)
    return {
        "wall_s": round(wall, 2),
        "events_per_sec": round(n_events / wall, 1),
        "final_rows": rows,
        "epochs": [
            {
                "epoch_id": e.get("epoch_id"),
                "merge_latency_s": e.get("merge_latency_s"),
                "buckets_touched": len(e.get("buckets_touched", [])),
                **(e.get("timings") or {}),
            }
            for e in epochs
        ],
    }


def run_isolate(spark, names: list[str], repeats: int = 3) -> dict:
    from movex_cdc_spark.plans.entry_queries import REGISTRY

    bench._force(REGISTRY["cdc_minmax_health"][0](spark, SF_DIR))  # warmup
    out: dict = {}
    for name in names:
        fn, _ = REGISTRY[name]
        walls = []
        for _ in range(repeats):
            spark.sparkContext.setJobDescription(f"isolate:{name}")
            t0 = time.monotonic()
            bench._force(fn(spark, SF_DIR))
            walls.append(round(time.monotonic() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        out[name] = {"walls": walls, "min": min(walls),
                     "median": sorted(walls)[len(walls) // 2]}
    return out


def run_explain(spark, tag: str, names: list[str]) -> list[str]:
    import contextlib
    import io

    from movex_cdc_spark.plans.entry_queries import REGISTRY

    out_dir = os.path.join(REPO, "plans", "r08")
    os.makedirs(out_dir, exist_ok=True)
    written = []
    for name in names:
        fn, _ = REGISTRY[name]
        df = fn(spark, SF_DIR)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        p = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(p, "w") as f:
            f.write(buf.getvalue())
        written.append(p)
    return written


def main() -> None:
    workdir = os.environ.get("SPARK_GRAFT_BENCH_DIR", "/tmp/movex_bench")
    os.makedirs(workdir, exist_ok=True)
    args = sys.argv[1:]
    if args and args[0] == "--apply-phases":
        spark = bench.make_spark(CPUS)
        n = int(os.environ.get("SPARK_GRAFT_CDC_EVENTS", "4000000"))
        print(json.dumps({"metric": "cdc_apply_phases",
                          **run_apply_phases(spark, workdir, n),
                          "host_calibration": bench.host_calibration()}))
        spark.stop()
        return
    if args and args[0] == "--isolate":
        names = args[1:] or bench.HEADLINE
        spark = bench.make_spark(CPUS)
        print(json.dumps({"metric": "noop_isolated_queries",
                          "queries": run_isolate(spark, names),
                          "host_calibration": bench.host_calibration()}))
        spark.stop()
        return
    if args and args[0] == "--explain":
        tag = args[1]
        names = args[2:] or bench.HEADLINE
        spark = bench.make_spark(CPUS)
        for p in run_explain(spark, tag, names):
            print(p)
        spark.stop()
        return
    print(__doc__)


if __name__ == "__main__":
    main()
