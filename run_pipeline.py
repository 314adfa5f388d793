"""Cluster entry point for the CDC pipeline (the north rule's
``spark-submit --py-files`` launch path).

    # package the engine once
    (cd /path/to/repo && zip -qr /tmp/movex_cdc_spark.zip movex_cdc_spark)

    spark-submit --master yarn --deploy-mode client \\
        --py-files /tmp/movex_cdc_spark.zip \\
        run_pipeline.py \\
        --events-dir  /mnt/shared/events_json \\
        --table-dir   /mnt/shared/lake/repo_files \\
        --checkpoint-dir /mnt/shared/ckpt/repo_files \\
        --dead-letter-dir /mnt/shared/dl/repo_files \\
        --metrics-dir /mnt/shared/metrics/repo_files \\
        --config      conf/capture.json \\
        --payload-format --buckets 4096

Storage contract: the lake/log METADATA layer commits through the
filesystem seam (lake/fs.py). The default ``--fs local`` uses POSIX
atomic rename — ``--table-dir`` and friends on a cluster-shared mount
(NFS/Lustre/FUSE) or local disk. ``--fs hadoop`` routes metadata
commits through the Hadoop FileSystem API (spark._jvm): hdfs://,
abfs://, or any scheme with atomic rename + exclusive create; S3
additionally needs the conditional-PUT/catalog-pointer variant of
``replace_text`` documented in lake/fs.py. The parquet DATA files
always go through Spark's writers and are store-agnostic either way.

Locally (tests/bench) the same script runs on ``local[N]`` — the
session factory sets a local master only when not launched through
spark-submit. The default mode drains the backlog exactly-once and
exits; ``--trigger '30 seconds'`` runs a continuous micro-batch stream
until signalled, re-beating the single-writer heartbeat between
triggers.

Write amplification needs no flag: the lake table picks its write per
epoch. A small epoch appends one delta file; the merge that would take
a bucket past its delta depth rewrites (compacts) the touched buckets
(lake/table.py ``MAX_DELTA_DEPTH``).
"""

from __future__ import annotations

import argparse
import sys
import time


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--events-dir", required=True, help="change-event source directory")
    p.add_argument("--table-dir", required=True, help="lake table root (created if missing)")
    p.add_argument("--checkpoint-dir", required=True)
    p.add_argument("--dead-letter-dir", default=None)
    p.add_argument("--metrics-dir", default=None)
    p.add_argument("--config", default=None, help="EngineConfig JSON path (capture config)")
    p.add_argument("--table-name", default=None, help="table entry in the config to apply")
    p.add_argument("--buckets", type=int, default=256, help="hash buckets for a NEW table")
    p.add_argument("--payload-format", action="store_true",
                   help="source rows are Event_Logs-shaped (msg_key + JSON payload)")
    p.add_argument("--max-files-per-trigger", type=int, default=None)
    p.add_argument("--trigger", default=None,
                   help="processing-time interval for a continuous run, e.g. '30 seconds'")
    p.add_argument("--timeout-s", type=int, default=3600,
                   help="available-now drain timeout")
    p.add_argument("--fs", choices=["local", "hadoop"], default="local",
                   help="metadata-IO seam impl: POSIX (shared mount) or "
                        "Hadoop FileSystem (hdfs://, abfs://, ...)")
    p.add_argument("--envelope-sink", choices=["none", "lake", "kafka"], default="none",
                   help="outbound consumer stream: 'lake' appends envelopes to an "
                        "epoch-fenced append log (the test double); 'kafka' produces "
                        "them through the public format('kafka') sink — at-least-once, "
                        "pair with consumer-side watermark dedup (streaming/sink.py)")
    p.add_argument("--envelope-dir", default=None,
                   help="append-log dir for --envelope-sink lake")
    p.add_argument("--kafka-bootstrap", default=None,
                   help="bootstrap.servers for --envelope-sink kafka")
    p.add_argument("--kafka-topic", default=None,
                   help="topic for --envelope-sink kafka")
    p.add_argument("--status", action="store_true",
                   help="print the consolidated health/status JSON "
                        "(streaming/status.py — the /health_check/status "
                        "analog) and exit without touching the pipeline")
    p.add_argument("--control-file", default=None,
                   help="server-control JSON document (streaming/control.py "
                        "— the /server_control analog). With --trigger, a "
                        "PipelineSupervisor applies changes between "
                        "micro-batches: worker_threads_count (live; 0 "
                        "pauses), max_files_per_trigger (graceful restart), "
                        "log_level (live), terminate")
    p.add_argument("--set-control", action="append", default=None,
                   metavar="KEY=VALUE",
                   help="write a control change (validated, revision-bumped) "
                        "and exit — the POST /server_control analog; "
                        "repeatable. Requires --control-file")
    return p.parse_args(argv)


def _parse_control_value(raw: str):
    if raw.lower() in ("true", "false"):
        return raw.lower() == "true"
    if raw.lower() in ("null", "none"):
        return None
    try:
        return int(raw)
    except ValueError:
        return raw


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])

    from movex_cdc_spark.config.table_config import EngineConfig
    from movex_cdc_spark.lake.table import LakeTable
    from movex_cdc_spark.operators.apply import KEY_COLS, REPO_FILES_SCHEMA
    from movex_cdc_spark.session import get_spark
    from movex_cdc_spark.streaming.housekeeping import Heartbeat
    from movex_cdc_spark.streaming.pipeline import CdcStreamPipeline

    spark = get_spark(app_name="movex-cdc-pipeline")
    fs = None
    if args.fs == "hadoop":
        from movex_cdc_spark.lake.fs import HadoopFS

        fs = HadoopFS(spark)

    if args.set_control:
        # POST /server_control analog: validate + atomically publish,
        # no pipeline objects touched — a running supervisor picks the
        # new revision up at its next poll
        import json as _json

        from movex_cdc_spark.streaming.control import ServerControl

        if not args.control_file:
            raise SystemExit("--set-control requires --control-file")
        changes = {}
        for kv in args.set_control:
            if "=" not in kv:
                raise SystemExit(f"--set-control expects KEY=VALUE, got {kv!r}")
            k, v = kv.split("=", 1)
            changes[k.strip()] = _parse_control_value(v.strip())
        doc = ServerControl(args.control_file, fs=fs).set(**changes)
        print(_json.dumps(doc, indent=1))
        return 0

    if args.status:
        # read-only probe over what the pipeline already persists —
        # safe to run WHILE a pipeline instance is live (it neither
        # beats the heartbeat nor commits anything)
        import json as _json

        from movex_cdc_spark.streaming.status import engine_status

        st = engine_status(
            spark,
            metrics_dir=args.metrics_dir,
            table_dir=args.table_dir,
            checkpoint_home=args.checkpoint_dir.rstrip("/") + "_home",
            dead_letter_dir=args.dead_letter_dir,
            events_dir=args.events_dir,
            control_file=args.control_file,
            fs=fs,
        )
        print(_json.dumps(st, default=str, indent=2))
        return 0

    try:
        table = LakeTable.load(spark, args.table_dir, fs=fs)
    except FileNotFoundError:
        table = LakeTable.create(
            spark, args.table_dir, REPO_FILES_SCHEMA, KEY_COLS,
            n_buckets=args.buckets, fs=fs,
        )
    config = EngineConfig.load(args.config) if args.config else None

    # single-writer guard on the checkpoint home (reference
    # heartbeat.rb) — through the SAME fs seam as the stores, so a
    # scheme-qualified checkpoint home fences across nodes, not against
    # a per-node local junk path
    hb = Heartbeat(args.checkpoint_dir.rstrip("/") + "_home", fs=fs)
    hb.beat()

    envelope_sink = None
    if args.envelope_sink == "lake":
        from movex_cdc_spark.streaming.sink import EnvelopeSink

        if not args.envelope_dir:
            raise SystemExit("--envelope-sink lake requires --envelope-dir")
        envelope_sink = EnvelopeSink(spark, args.envelope_dir, fs=fs)
    elif args.envelope_sink == "kafka":
        from movex_cdc_spark.streaming.sink import KafkaEnvelopeWriter

        if not (args.kafka_bootstrap and args.kafka_topic):
            raise SystemExit(
                "--envelope-sink kafka requires --kafka-bootstrap and --kafka-topic"
            )
        envelope_sink = KafkaEnvelopeWriter(
            spark, args.kafka_bootstrap, args.kafka_topic
        )

    pipe = CdcStreamPipeline(
        spark,
        table,
        events_dir=args.events_dir,
        checkpoint_dir=args.checkpoint_dir,
        dead_letter_dir=args.dead_letter_dir,
        metrics_dir=args.metrics_dir,
        max_files_per_trigger=args.max_files_per_trigger,
        payload_format=args.payload_format,
        config=config,
        table_name=args.table_name,
        envelope_sink=envelope_sink,
        fs=fs,
    )
    if args.trigger and args.control_file:
        # supervised continuous run: the control document is applied
        # between micro-batches (live knobs) or via graceful restart
        # from the same checkpoint (batch-size knob); ``terminate``
        # ends the loop — the reference's controller-managed worker
        # pool (server_control_controller.rb)
        from movex_cdc_spark.streaming.control import PipelineSupervisor, ServerControl

        sup = PipelineSupervisor(
            pipe,
            ServerControl(args.control_file, fs=fs),
            available_now=False,
            processing_time=args.trigger,
        )
        deadline = time.monotonic() + args.timeout_s
        while not sup.terminated and time.monotonic() < deadline:
            sup.poll_once()
            hb.beat()
            time.sleep(5)
        sup._stop()
    elif args.trigger:
        q = pipe.start(available_now=False, processing_time=args.trigger)
        # keep the single-writer claim alive for the whole run — a
        # one-shot beat would expire after stale_s and let a second
        # instance start mid-stream (the reference heartbeats on a timer)
        while not q.awaitTermination(30):
            hb.beat()
    else:
        epochs = pipe.run_available_now(timeout_s=args.timeout_s)
        applied = [e for e in epochs if not e.get("skipped")]
        print(
            f"drained {len(epochs)} epochs ({len(applied)} applied, "
            f"{len(epochs) - len(applied)} fenced replays); "
            f"table version {table.current_version()}"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
