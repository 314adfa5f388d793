"""Capture the physical plans of streaming-shaped keyed applies.

Runs ``apply_batch_flagged`` over a cached, flagged batch of 400
generated events into a 32-bucket table seeded with the base snapshot,
once per epoch until both write arms have run: the delta epochs append
one file each, and the epoch after ``MAX_DELTA_DEPTH`` of them
compacts. For the first epoch of each arm it writes the plan of every
SQL execution the epoch started — the probe job and the merge write —
as ``<kind>_<tag>.txt`` under OUTDIR (kinds ``probe``,
``merge_write_delta``, ``merge_write_cow``). Plans are read from the
session's SQL status store after the run, so AQE-resolved stages are
shown where the run finished them.

Usage: python tools/capture_apply_plans.py OUTDIR TAG
(run it from a parent checkout with TAG=before and from the change with
TAG=after to produce a before/after pair).
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from movex_cdc_spark.datagen import GenParams, generate_base_snapshot, generate_events
from movex_cdc_spark.lake.table import MAX_DELTA_DEPTH, LakeTable
from movex_cdc_spark.operators.apply import (
    KEY_COLS,
    REPO_FILES_SCHEMA,
    apply_batch_flagged,
    flag_dispositions,
)
from movex_cdc_spark.session import get_spark


def main(out: str, tag: str) -> None:
    spark = get_spark(cpus=4, shuffle_partitions=8,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    p = GenParams(n_events=400, seed=7)
    base = generate_base_snapshot(p).drop(columns=["last_seq", "deleted"])
    lake = tempfile.mkdtemp(prefix="capture-plans-")
    try:
        t = LakeTable.create(spark, lake, REPO_FILES_SCHEMA, KEY_COLS, n_buckets=32)
        t.overwrite(spark.createDataFrame(base).withColumn("content_sha", F.sha2("content", 256)))
        flagged = flag_dispositions(spark.createDataFrame(generate_events(p))).persist()
        store = spark._jsparkSession.sharedState().statusStore()
        bus = spark.sparkContext._jsc.sc().listenerBus()

        def executions():
            bus.waitUntilEmpty()
            ex = store.executionsList()
            return [ex.apply(i) for i in range(ex.size())]

        os.makedirs(out, exist_ok=True)
        done: set[str] = set()
        for epoch in range(MAX_DELTA_DEPTH + 1):
            seen = {e.executionId() for e in executions()}
            arm = apply_batch_flagged(t, flagged, epoch_id=epoch, stream_id="capture").get(
                "write_mode", "cow")
            for e in executions():
                if e.executionId() in seen:
                    continue
                plan = e.physicalPlanDescription()
                write = "InsertIntoHadoopFsRelationCommand" in plan
                kind = f"merge_write_{arm}" if write else "probe"
                if kind in done:
                    continue
                done.add(kind)
                head = e.description().splitlines()[0][:100]
                with open(os.path.join(out, f"{kind}_{tag}.txt"), "w") as f:
                    f.write(f"# {kind} ({e.jobs().size()} Spark jobs): {head}\n{plan}\n")
                print(epoch, kind, e.jobs().size(), "jobs")
    finally:
        shutil.rmtree(lake, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
