"""CLI entrypoint: run the CDC apply loop as a Structured Streaming query.

The batch replay (`replay_job.py`) and this streaming driver share the SAME
applier — the reference's cron-poll loops (``faimms.py:232-252``) become a
file-source stream over a tailed change-event directory:

    spark-submit --py-files dist/data_services_spark.zip \
        data_services_spark/jobs/stream_job.py \
        --root /path/to/lake --source-dir /path/of/change-parquet \
        --checkpoint /path/to/stream-ckpt --max-files-per-trigger 8 \
        --stop-when-idle

Exactly-once: the streaming checkpoint replays delivered micro-batches
after a crash; the applier skips epochs already recorded in the table
snapshot summary, and partially-overlapping events lose LWW against the
rows they already wrote. ``--stop-when-idle`` drains everything available
then exits (cron-style invocation); without it the query runs until
killed. Prints one JSON line on exit with the committed state.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--root", required=True, help="lake root directory")
    ap.add_argument("--source-dir", default=None,
                    help="directory of change-event parquet files to tail "
                         "(the default transport; or use --bus-*)")
    ap.add_argument("--bus-transport", default=None,
                    choices=["kafka", "file", "socket"],
                    help="read a message bus instead of a parquet dir: "
                         "Kafka-wire-shaped records through the envelope "
                         "decoder into the same exactly-once apply")
    ap.add_argument("--bus-path", default=None,
                    help="bus file transport: JSON-lines bus-archive dir")
    ap.add_argument("--bus-host", default=None, help="bus socket transport")
    ap.add_argument("--bus-port", type=int, default=None)
    ap.add_argument("--bus-topic", default=None,
                    help="topic filter (kafka: subscription; file/socket: "
                         "record filter)")
    ap.add_argument("--bus-option", action="append", default=[],
                    metavar="K=V",
                    help="kafka reader option, repeatable (e.g. "
                         "kafka.bootstrap.servers=broker:9092)")
    ap.add_argument("--envelope", default="debezium",
                    choices=["debezium", "debezium_flat", "maxwell",
                             "canal", "dms", "mongo"],
                    help="bus envelope dialect (decoded JVM-side)")
    ap.add_argument("--checkpoint", required=True,
                    help="streaming checkpoint location")
    ap.add_argument("--max-files-per-trigger", type=int, default=8,
                    help="backpressure: files consumed per micro-batch")
    ap.add_argument("--trigger-seconds", type=int, default=None,
                    help="processing-time trigger (default: as fast as possible)")
    ap.add_argument("--bucket-count", type=int, default=16)
    ap.add_argument("--compact-threshold", type=int, default=16)
    ap.add_argument("--stop-when-idle", action="store_true",
                    help="process everything available, then stop (cron mode)")
    ap.add_argument("--evolved-columns", default="",
                    help="DDL fragment of columns the upstream schema gained "
                         "since the base shape, e.g. 'score INT, meta STRING'. "
                         "A streaming file source fixes its schema per query "
                         "run, so upstream evolution = stop this job and "
                         "redeploy it with the widened schema (same "
                         "checkpoint); pre-evolution files read as null / "
                         "upcast, and the sink table evolves under the "
                         "additive + safe-promotion rules")
    ap.add_argument("--refresh-views", default="",
                    help="comma-separated incremental-view table paths to "
                         "refresh after every micro-batch (streaming mart: "
                         "each view lags the table by at most one batch)")
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args(argv)
    # before any session or bootstrap: a bad invocation creates nothing
    if (args.source_dir is None) == (args.bus_transport is None):
        ap.error("exactly one of --source-dir or --bus-transport is required")

    # absolute imports: spark-submit executes this file as a top-level script
    from data_services_spark.cdc.apply import CdcApplier
    from data_services_spark.lake.table import LakeTable
    from data_services_spark.session import get_spark
    from data_services_spark.streaming.stream_apply import (
        start_apply_stream,
        stream_changes,
    )

    spark = get_spark("stream_job", cpus=args.cpus)
    if LakeTable.exists(f"{args.root}/transcripts"):
        applier = CdcApplier.load(
            spark, args.root, compact_threshold=args.compact_threshold or None,
        )
    else:
        applier = CdcApplier.bootstrap(
            spark, args.root, bucket_count=args.bucket_count,
            compact_threshold=args.compact_threshold or None,
        )

    from data_services_spark.operators.incremental_view import IncrementalAggView

    views = [
        IncrementalAggView.load(spark, v, applier.target)
        for v in args.refresh_views.split(",") if v
    ]

    schema = None
    if args.evolved_columns:
        from pyspark.sql import types as T

        from data_services_spark.cdc.schemas import CHANGES_SCHEMA

        extra = T.StructType.fromDDL(args.evolved_columns)
        schema = T.StructType(CHANGES_SCHEMA.fields + extra.fields)

    t0 = time.monotonic()
    if args.bus_transport:
        from pyspark.sql import types as T

        from data_services_spark.cdc.schemas import CHANGES_SCHEMA
        from data_services_spark.streaming.bus import (
            read_bus,
            start_bus_apply_stream,
        )

        base = schema or CHANGES_SCHEMA
        row_schema = T.StructType(
            [f for f in base.fields if f.name not in ("lsn", "op", "ts")]
        )
        bus = read_bus(
            spark, args.bus_transport,
            path=args.bus_path, host=args.bus_host, port=args.bus_port,
            topic=args.bus_topic,
            max_files_per_trigger=args.max_files_per_trigger,
            options=dict(
                kv.split("=", 1) for kv in args.bus_option if "=" in kv
            ),
        )
        q = start_bus_apply_stream(
            applier, bus, row_schema, args.envelope,
            checkpoint_dir=args.checkpoint, topic=args.bus_topic,
            trigger_seconds=args.trigger_seconds, views=views,
        )
    else:
        q = start_apply_stream(
            applier,
            stream_changes(
                spark, args.source_dir, args.max_files_per_trigger,
                schema=schema,
            ),
            checkpoint_dir=args.checkpoint,
            trigger_seconds=args.trigger_seconds,
            views=views,
        )
    try:
        if args.stop_when_idle:
            q.processAllAvailable()
            q.stop()
        else:
            q.awaitTermination()
    finally:
        snap = applier.target.snapshot()
        print(json.dumps({
            "wall_sec": round(time.monotonic() - t0, 3),
            "snapshot_id": snap.snapshot_id,
            "epoch": snap.summary.get("epoch"),
            "committed_lsn": snap.summary.get("offsets", {}).get("last_lsn"),
            "table_rows": applier.target.read().count(),
        }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
