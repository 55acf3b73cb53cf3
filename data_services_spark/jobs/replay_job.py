"""CLI entrypoint: replay a change stream into the transcripts lake table.

Run via spark-submit (cluster) or plain python (local):

    spark-submit --py-files dist/data_services_spark.zip \
        data_services_spark/jobs/replay_job.py \
        --root /path/to/lake --changes /path/to/changes.parquet \
        --chunk-size 1000000

    # or synthesize the stream instead of reading one:
    python -m data_services_spark.jobs.replay_job \
        --root /tmp/lake --generate-events 100000 --chunk-size 50000

Prints one JSON line per chunk plus a final JSON summary (events/sec,
offsets, snapshot id) — the machine-readable lineage a scheduler would
scrape, replacing the reference's per-pipeline log files.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--root", required=True, help="lake root directory")
    ap.add_argument("--changes", help="parquet path of the change stream")
    ap.add_argument("--generate-events", type=int, default=0,
                    help="synthesize this many change events instead of --changes")
    ap.add_argument("--n-convs", type=int, default=10000)
    ap.add_argument("--hot-pct", type=int, default=20)
    ap.add_argument("--chunk-size", type=int, default=None,
                    help="fixed LSN width per chunk (dense LSN spaces); "
                         "default 1,000,000 when --chunk-rows is not given")
    ap.add_argument("--chunk-rows", type=int, default=None,
                    help="chunk by EVENT MASS instead: boundaries from the "
                         "pending stream's LSN quantiles — use for sparse "
                         "LSN spaces (Mongo cluster times, byte-offset "
                         "binlog positions)")
    ap.add_argument("--bucket-count", type=int, default=16)
    ap.add_argument("--merge-engine", default="lww",
                    choices=["lww", "partial_update", "first_row"],
                    help="bootstrap only: partial_update tables ingest "
                         "Debezium-style sparse updates (op 'P' writes only "
                         "its non-null columns); first_row keeps each key's "
                         "FIRST event (deletes quarantine); loading an "
                         "existing table keeps its own engine")
    ap.add_argument("--compact-threshold", type=int, default=16,
                    help="compact a bucket when its delta layer count reaches"
                         " this (1 compacts after every chunk, leaving the"
                         " table read-optimised; 0 disables auto-compaction)")
    ap.add_argument("--compact-at-end", action="store_true",
                    help="leave the table fully read-optimised after replay")
    ap.add_argument("--branch", default=None, metavar="NAME",
                    help="replay INTO the named branch of an existing "
                         "table (create with maintain_job "
                         "--create-branch): commits and offsets advance "
                         "the branch head; main is untouched until "
                         "--fast-forward")
    ap.add_argument("--cpus", type=int, default=None, help="local[N] (local mode only)")
    ap.add_argument("--no-lineage", action="store_true")
    ap.add_argument("--report", action="store_true",
                    help="after replay, print the reporting-view cascade "
                         "(per-batch rollup, partition health, throughput)")
    ap.add_argument("--verify-oracle", action="store_true",
                    help="after replay, compare final state vs DuckDB oracle (needs --changes)")
    ap.add_argument("--wap-audit", action="store_true",
                    help="write-audit-publish ingest: STAGE each chunk "
                         "(reader-invisible), run the contract suite over "
                         "the staged state, publish on pass; on FAIL, "
                         "abandon and HALT — offsets never advance past an "
                         "unaudited batch, so the failed chunk (and "
                         "everything after it) replays once the operator "
                         "intervenes (exit code 3)")
    args = ap.parse_args(argv)
    if args.chunk_size is not None and args.chunk_rows is not None:
        ap.error("--chunk-size and --chunk-rows are mutually exclusive")
    if args.chunk_size is None and args.chunk_rows is None:
        args.chunk_size = 1_000_000

    # absolute imports: spark-submit executes this file as a top-level script
    from data_services_spark.cdc.apply import CdcApplier
    from data_services_spark.cdc.generator import generate_changes
    from data_services_spark.lake.table import LakeTable
    from data_services_spark.session import get_spark

    spark = get_spark("replay_job", cpus=args.cpus)

    if args.changes:
        changes = spark.read.parquet(args.changes)
    elif args.generate_events:
        changes = generate_changes(
            spark, args.generate_events, n_convs=args.n_convs, hot_pct=args.hot_pct
        )
    else:
        ap.error("need --changes or --generate-events")

    kwargs = dict(
        with_lineage=not args.no_lineage,
        compact_threshold=args.compact_threshold or None,
    )
    if args.branch:
        if not LakeTable.exists(f"{args.root}/transcripts"):
            ap.error("--branch needs an existing table (bootstrap main first)")
        applier = CdcApplier(
            spark,
            LakeTable(spark, f"{args.root}/transcripts", branch=args.branch),
            LakeTable(spark, f"{args.root}/lineage"),
            LakeTable(spark, f"{args.root}/quarantine"),
            (LakeTable(spark, f"{args.root}/metrics")
             if LakeTable.exists(f"{args.root}/metrics") else None),
            **kwargs,
        )
    elif LakeTable.exists(f"{args.root}/transcripts"):
        applier = CdcApplier.load(spark, args.root, **kwargs)
    else:
        applier = CdcApplier.bootstrap(
            spark, args.root, bucket_count=args.bucket_count,
            target_props=(
                {"merge_engine": args.merge_engine}
                if args.merge_engine != "lww" else None
            ),
            **kwargs,
        )

    t0 = time.monotonic()
    halted_at = None
    if args.wap_audit:
        from pyspark.sql import functions as F

        from data_services_spark.cdc.planner import plan_replay

        source_hi = changes.agg(F.max("lsn")).collect()[0][0]
        if args.chunk_rows is not None:
            plan = applier._plan_by_rows(
                changes, applier.committed_lsn(), source_hi, args.chunk_rows
            )
        else:
            plan = plan_replay(source_hi, applier.committed_lsn(), args.chunk_size)
        total, n_chunks = 0, 0
        for lo, hi in plan.ranges:
            chunk = changes.where((F.col("lsn") > lo) & (F.col("lsn") <= hi))
            wap_id = f"replay-{lo}-{hi}"
            info = applier.stage_chunk(chunk, wap_id, hi=hi)
            if info.get("skipped"):
                continue
            n_chunks += 1
            passed, report = applier.audit_staged(wap_id)
            if passed:
                snap_id = applier.publish_chunk(wap_id)
            else:
                applier.abandon_chunk(wap_id)
                snap_id = None
            total += info["n_events"] if passed else 0
            print(json.dumps({
                "wap_id": wap_id, "lo": lo, "hi": hi,
                "published": passed, "snapshot_id": snap_id,
                "n_events": info["n_events"],
                "n_quarantined": info["n_quarantined"],
                "failed_checks": [] if passed else [
                    r["check_name"]
                    for r in (x.asDict() for x in report.collect())
                    if r["n_violations"] > 0
                ],
            }))
            if not passed:
                # exactly-once: offsets must never advance past an
                # unaudited batch — later chunks would strand its events
                halted_at = wap_id
                break
        wall = time.monotonic() - t0
    else:
        stats = applier.replay(
            changes, chunk_size=args.chunk_size, chunk_rows=args.chunk_rows,
            compact_at_end=args.compact_at_end,
        )
        wall = time.monotonic() - t0

        total, n_chunks = 0, len(stats)
        for s in stats:
            total += s.n_events
            print(json.dumps({
                "batch_id": s.batch_id, "lo": s.lo, "hi": s.hi,
                "n_events": s.n_events, "n_upserts": s.n_upserts,
                "n_deletes": s.n_deletes, "n_quarantined": s.n_quarantined,
                "skipped": s.skipped, "snapshot_id": s.snapshot_id,
                "duration_ms": s.duration_ms,
                "affected_buckets": len(s.affected_buckets),
            }))

    if args.report and not args.no_lineage:
        from data_services_spark.plans.reports import register_report_views

        register_report_views(
            spark,
            applier.lineage.read(),
            applier.quarantine.read(),
            applier.metrics.read() if applier.metrics is not None else None,
        )
        for view in ("cdc_batches", "cdc_partition_health", "cdc_throughput"):
            try:
                rows = [r.asDict() for r in spark.sql(
                    f"SELECT * FROM {view} ORDER BY 1").collect()]
            except Exception:
                continue
            print(json.dumps({"view": view, "rows": rows}, default=str))

    summary = {
        "chunks": n_chunks,
        "events_applied": total,
        "wall_sec": round(wall, 3),
        "events_per_sec": round(total / wall, 1) if wall > 0 else None,
        "committed_lsn": applier.committed_lsn(),
        "snapshot_id": applier.target.current_snapshot_id(),
        "table_rows": applier.target.read().count(),
    }
    if halted_at is not None:
        summary["halted_at"] = halted_at
        print(json.dumps(summary))
        return 3

    if args.verify_oracle:
        if not args.changes:
            print(json.dumps({"error": "--verify-oracle needs --changes"}))
            return 2
        from data_services_spark.cdc.oracle import (
            expected_final_state,
            expected_first_row_state,
            expected_patch_state,
            table_state_matches,
        )

        oracle = {
            "partial_update": expected_patch_state,
            "first_row": expected_first_row_state,
        }.get(applier.merge_engine, expected_final_state)
        ok, msg = table_state_matches(
            applier.target.read().toPandas(),
            oracle(args.changes),
        )
        summary["oracle_match"] = ok
        summary["oracle_msg"] = msg
        print(json.dumps(summary))
        return 0 if ok else 1

    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
