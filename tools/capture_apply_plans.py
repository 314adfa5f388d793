"""Capture the physical plans of streaming-shaped applies.

Runs ``apply_batch_flagged`` over a cached, flagged batch of 400
generated events into a 32-bucket table seeded with the base snapshot,
once per epoch until both write arms have run: the delta epochs append
one file each, and the epoch after ``MAX_DELTA_DEPTH`` of them
compacts. For the first epoch of each arm it writes the plan of every
SQL execution the epoch started — the probe job and the merge write —
as ``<kind>_<tag>.txt`` under OUTDIR (kinds ``probe``,
``merge_write_delta``, ``merge_write_cow``). Then one unkeyed epoch
(``key_handling='N'``, ``apply_batch_unkeyed`` with a dead-letter log)
over the same events, cached and flagged with that config: kinds
``unkeyed_probe`` (every execution that writes nothing),
``unkeyed_dead_letter`` and ``unkeyed_append`` (the writes into the
dead-letter log and into the event log). Last, one
``MultiplexedCdcPipeline`` epoch over a static batch of 4 tagged
tables (400 events each, poison in ``t0`` only, 8-bucket tables): every
SQL execution it started goes into ``mux_epoch_<tag>.txt``, the probe
jobs first, then each table's write and the dead-letter append. Plans
are read from the session's SQL status store after the run, so
AQE-resolved stages are shown where the run finished them.

Usage: python tools/capture_apply_plans.py OUTDIR TAG
(run it from a parent checkout with TAG=before and from the change with
TAG=after to produce a before/after pair).
"""

from __future__ import annotations

import dataclasses
import functools
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from movex_cdc_spark.config.table_config import repo_files_config
from movex_cdc_spark.datagen import GenParams, generate_base_snapshot, generate_events
from movex_cdc_spark.lake.append_log import UnkeyedEventLog
from movex_cdc_spark.lake.table import MAX_DELTA_DEPTH, LakeTable
from movex_cdc_spark.operators.apply import (
    KEY_COLS,
    REPO_FILES_SCHEMA,
    DeadLetterTable,
    apply_batch_flagged,
    apply_batch_unkeyed,
    flag_dispositions,
)
from movex_cdc_spark.session import get_spark
from movex_cdc_spark.sources.events import to_multiplex_events
from movex_cdc_spark.streaming.pipeline import MultiplexedCdcPipeline


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

        def capture(label, apply, kind_of) -> None:
            seen = {e.executionId() for e in executions()}
            lineage = apply()
            for e in executions():
                if e.executionId() in seen:
                    continue
                plan = e.physicalPlanDescription()
                kind = kind_of(plan, lineage)
                if kind in done:
                    continue
                done.add(kind)
                head = e.description().splitlines()[0][:100]
                with open(os.path.join(out, f"{kind}_{tag}.txt"), "w") as f:
                    f.write(f"# {kind} ({e.jobs().size()} Spark jobs): {head}\n{plan}\n")
                print(label, kind, e.jobs().size(), "jobs")

        def keyed_kind(plan, lineage):
            write = "InsertIntoHadoopFsRelationCommand" in plan
            return f"merge_write_{lineage.get('write_mode', 'cow')}" if write else "probe"

        for epoch in range(MAX_DELTA_DEPTH + 1):
            capture(epoch, lambda: apply_batch_flagged(t, flagged, epoch_id=epoch,
                                                       stream_id="capture"), keyed_kind)

        cfg = repo_files_config().tables["repo_files"]
        cfg.key_handling = "N"
        unkeyed = flag_dispositions(spark.createDataFrame(generate_events(p)),
                                    table_cfg=cfg).persist()
        log = UnkeyedEventLog.create(spark, os.path.join(lake, "ulog"))
        dl = DeadLetterTable(spark, os.path.join(lake, "dl"))

        def unkeyed_kind(plan, _lineage):
            if "InsertIntoHadoopFsRelationCommand" not in plan:
                return "unkeyed_probe"
            return "unkeyed_dead_letter" if dl.path in plan else "unkeyed_append"

        capture("unkeyed", lambda: apply_batch_unkeyed(log, unkeyed, 0, "capture", cfg, dl),
                unkeyed_kind)

        mux_cfg = repo_files_config()
        proto = mux_cfg.tables.pop("repo_files")
        names = [f"t{i}" for i in range(4)]
        frames = []
        for i, name in enumerate(names):
            mux_cfg.tables[name] = dataclasses.replace(proto, name=name)
            ev = generate_events(GenParams(n_events=400, seed=7 + i,
                                           p_poison=0.03 if i == 0 else 0.0))
            frames.append(to_multiplex_events(
                spark.createDataFrame(ev.drop(columns=["is_noop"])), name))
        sinks = {n: LakeTable.create(spark, os.path.join(lake, n), REPO_FILES_SCHEMA, KEY_COLS,
                                     n_buckets=8) for n in names}
        pipe = MultiplexedCdcPipeline(spark, mux_cfg, sinks, os.path.join(lake, "mux_events"),
                                      os.path.join(lake, "mux_ckpt"),
                                      dead_letter_dir=os.path.join(lake, "mux_dl"))
        seen = {e.executionId() for e in executions()}
        pipe._apply(functools.reduce(DataFrame.unionByName, frames), 0)

        def mux_label(plan):
            if "InsertIntoHadoopFsRelationCommand" not in plan:
                return "probe"
            return "write " + next(n for n in [*names, "mux_dl"]
                                   if os.path.join(lake, n) + "/" in plan)

        runs = sorted(((mux_label(e.physicalPlanDescription()), e.executionId(), e)
                       for e in executions() if e.executionId() not in seen),
                      key=lambda r: (r[0] != "probe", r[0], r[1]))
        with open(os.path.join(out, f"mux_epoch_{tag}.txt"), "w") as f:
            f.write(f"# one 4-table mux epoch: {len(runs)} SQL executions, "
                    f"{sum(e.jobs().size() for *_l, e in runs)} Spark jobs\n")
            # per-execution job counts are left out: under concurrent
            # dispatch the status store does not attribute them reliably
            for label, _id, e in runs:
                f.write(f"\n# {label}\n{e.physicalPlanDescription()}\n")
        print("mux", [label for label, *_r in runs])
    finally:
        shutil.rmtree(lake, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
