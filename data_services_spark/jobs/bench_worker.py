"""Bench worker: one measurement in one fresh JVM.

Modes:
  --mode generate : synthesize the change stream to --changes parquet (not timed)
  --mode cdc      : bootstrap a lake under --workdir and replay --changes,
                    print JSON {events, wall_sec, events_per_sec}
  --mode queries  : run registry queries at --sf-dir, print JSON {name: sec}

Run as a subprocess per parallelism level so each measurement gets a cold
JVM with exactly local[N] threads (the sandbox proxy for an N-executor
cluster; BASELINE.md scaling protocol).
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import time

_T0 = time.monotonic()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", required=True,
                    choices=["generate", "cdc", "floor", "queries", "skew", "patch"])
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--events", type=int, default=2_000_000)
    ap.add_argument("--chunks", type=int, default=2)
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--repeats", type=int, default=6,
                    help="max in-JVM replay reps (stops early once converged)")
    ap.add_argument("--no-compact-end", action="store_true",
                    help="skip the final compaction (leave delta layers)")
    ap.add_argument("--step", action="store_true",
                    help="cdc mode: one rep per stdin line (interleaved-pair "
                         "protocol; parent alternates reps across levels)")
    ap.add_argument("--changes", help="change-stream parquet path")
    ap.add_argument("--workdir", help="scratch dir for the lake")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--queries", default="", help="comma-sep names; empty = all")
    ap.add_argument("--deadline-sec", type=float, default=0.0,
                    help="queries mode: stop launching new measurements this "
                         "many seconds after worker start (0 = no deadline); "
                         "skipped queries are listed, never silent")
    args = ap.parse_args(argv)

    from data_services_spark.session import get_spark

    # shuffle_partitions is the SAME at every parallelism level (as a real
    # cluster job config would be): high enough that the biggest level gets
    # multiple waves (tail balance under the hot-key burst); AQE coalescing
    # keeps the small level from drowning in tiny tasks.
    spark = get_spark(
        f"bench_{args.mode}", cpus=args.cpus,
        shuffle_partitions=max(64, args.cpus * 2),
        driver_memory="48g",
    )

    if args.mode == "generate":
        from data_services_spark.cdc.generator import generate_changes

        df = generate_changes(
            spark, args.events, n_convs=max(1000, args.events // 100),
            max_turns=50, n_hot=4, hot_pct=20,
            partitions=max(32, args.cpus * 4),
        )
        df.write.mode("overwrite").parquet(args.changes)
        print(json.dumps({"generated": args.events, "path": args.changes}))
        return 0

    if args.mode == "cdc":
        from data_services_spark.cdc.apply import CdcApplier

        # Steady-state measurement inside ONE long-lived JVM. A cold JVM
        # pinned to N cores starves the C2 compiler behind the saturated
        # worker threads: the identical replay measures 94s -> 116s -> 54s
        # -> 8.7s across four back-to-back runs. Real executors are
        # long-lived and JIT-warm, so the honest protocol is: repeat the
        # full replay (fresh lake each rep, same JVM) until the wall time
        # converges, then report the best rep.
        changes = spark.read.parquet(args.changes)
        chunk_size = max(1, (args.events + args.chunks - 1) // args.chunks)
        best = None
        reps = []
        compact_walls = []

        def _finalize() -> None:
            # e2e pairs the best apply wall with the CONVERGED (min)
            # compaction wall rather than whichever single compaction ran
            # on the best rep: both phases converge downward with JIT, and
            # a one-sample compaction measured 8-18s across otherwise
            # identical reps — noisy enough to swing the e2e ratio alone
            if compact_walls and best is not None:
                cw = min(compact_walls)
                best["compact_wall_sec"] = round(cw, 3)
                best["end_to_end_events_per_sec"] = round(
                    best["events"] / (best["wall_sec"] + cw), 1
                )
            best["rep_walls"] = reps

        def _one_rep(rep: int) -> dict:
            nonlocal best
            workdir = f"{args.workdir}_r{rep}"
            shutil.rmtree(workdir, ignore_errors=True)
            applier = CdcApplier.bootstrap(spark, workdir, bucket_count=args.buckets)
            # Apply loop and maintenance compaction are timed SEPARATELY —
            # the north-star metric is change-events/sec applied (replay ->
            # committed upsert); compaction is amortized maintenance that
            # production CDC sinks (Flink -> Iceberg upsert + async
            # rewrite_data_files) run as a separate job, often on separate
            # capacity. Threshold-triggered compactions inside the replay
            # (bounding read amplification) DO stay inside the apply wall.
            t0 = time.monotonic()
            stats = applier.replay(
                changes, chunk_size=chunk_size, source_hi=args.events - 1,
                compact_at_end=False,
            )
            wall = time.monotonic() - t0
            total = sum(s.n_events for s in stats)
            reps.append(round(wall, 3))
            improved = best is None or wall < best["wall_sec"]
            # e2e needs the SAME rep's compact wall, and only the best rep
            # is ever reported — non-improving reps skip the compaction
            # (~25s/rep at 1 core, pure bench time, fresh lake next rep)
            if improved and not args.no_compact_end:
                tc = time.monotonic()
                applier.target.compact()
                compact_wall = time.monotonic() - tc
                compact_walls.append(compact_wall)
                best = {
                    "cpus": args.cpus,
                    "events": total,
                    "wall_sec": round(wall, 3),
                    "events_per_sec": round(total / wall, 1),
                    "compact_wall_sec": round(compact_wall, 3),
                    "end_to_end_events_per_sec": round(total / (wall + compact_wall), 1),
                    "chunks": len(stats),
                    "table_rows": applier.target.read().count(),
                }
            elif improved:
                best = {
                    "cpus": args.cpus,
                    "events": total,
                    "wall_sec": round(wall, 3),
                    "events_per_sec": round(total / wall, 1),
                    "compact_wall_sec": 0.0,
                    "end_to_end_events_per_sec": round(total / wall, 1),
                    "chunks": len(stats),
                    "table_rows": applier.target.read().count(),
                }
            shutil.rmtree(workdir, ignore_errors=True)
            return {"rep": rep, "wall_sec": reps[-1], "improved": improved}

        if args.step:
            # Interleaved-pair protocol: the parent alternates reps between
            # the lo and hi workers (both JVMs long-lived and JIT-warm), so
            # both levels sample the SAME host-noise windows instead of
            # lo owning minutes 1-13 and hi minutes 13-17. One rep per
            # stdin line; 'quit' prints the converged best and exits.
            print(json.dumps({"ready": True, "cpus": args.cpus}), flush=True)
            rep = 0
            for line in sys.stdin:
                if line.strip() == "quit":
                    break
                print(json.dumps(_one_rep(rep)), flush=True)
                rep += 1
            _finalize()
            print(json.dumps({"final": best}), flush=True)
            return 0

        for rep in range(args.repeats):
            _one_rep(rep)
            # converged: the TWO most recent reps both failed to improve >10%
            # on the best before them (two in a row rides out host-noise
            # spikes; the first reps are JIT-dominated and never count)
            if rep >= 3:
                prior_best = min(reps[:-2])
                if min(reps[-2:]) >= prior_best * 0.95:
                    break
        _finalize()
        print(json.dumps(best))
        return 0

    if args.mode == "floor":
        # Substrate control: the simplest possible Spark job over the SAME
        # input (scan -> LWW aggregate -> noop sink), zero engine code. Its
        # scaling between two pinned core counts is the PLATFORM's ceiling
        # on this box (single-machine memory bandwidth / SMT contention that
        # adding real machines would not share). Engine efficiency is
        # reported raw AND normalized against this floor.
        from pyspark.sql import functions as F

        changes = spark.read.parquet(args.changes)
        keys = ["conv_id", "turn_idx"]
        payload = F.struct(*[F.col(c) for c in changes.columns if c not in keys])
        rank = F.struct("ts", "lsn")
        plan = (
            changes.groupBy(*keys)
            .agg(F.max_by(payload, rank).alias("_w"))
            .select(*keys, "_w.*")
        )
        walls = []
        for rep in range(args.repeats):
            t0 = time.monotonic()
            plan.write.format("noop").mode("overwrite").save()
            walls.append(round(time.monotonic() - t0, 3))
            if rep >= 3 and min(walls[-2:]) >= min(walls[:-2]) * 0.95:
                break
        best = min(walls)
        print(json.dumps({
            "cpus": args.cpus,
            "events": args.events,
            "wall_sec": best,
            "events_per_sec": round(args.events / best, 1),
            "rep_walls": walls,
        }))
        return 0

    if args.mode in ("skew", "patch"):
        # Two replay legs, each best-of-N events/s plus an INDEPENDENT
        # DuckDB oracle match of the final state — throughput claims ride
        # on verified semantics.
        # * skew: 50% of ALL events on ONE conv_id (reference precedent:
        #   one channel dominates a run, faimms.py:245-247) through the
        #   default apply loop — max_by's partial aggregation collapses the
        #   hot key's duplicates map-side, so no reducer sees the raw
        #   hot-key volume (cdc/oracle.py:expected_final_state);
        # * patch (opt-in): 40% of non-delete events are sparse updates
        #   (op 'P', pseudo-random written-column subsets) into a
        #   merge_engine='partial_update' table
        #   (cdc/oracle.py:expected_patch_state).
        from pyspark.sql import functions as F

        from data_services_spark.cdc.apply import CdcApplier
        from data_services_spark.cdc.generator import generate_changes
        from data_services_spark.cdc.oracle import (
            expected_final_state,
            expected_patch_state,
            table_state_matches,
        )

        skew = args.mode == "skew"
        if skew:
            out = {"events": args.events, "hot_pct": 50, "n_hot": 1}
            shape = {"n_hot": 1, "hot_pct": 50}
            props = None
        else:
            out = {"events": args.events, "patch_pct": 40}
            shape = {"n_hot": 4, "hot_pct": 20, "patch_pct": 40}
            props = {"merge_engine": "partial_update"}
        changes = generate_changes(
            spark, args.events, n_convs=max(1000, args.events // 100),
            max_turns=50, partitions=max(32, args.cpus * 4), **shape,
        )
        changes.write.mode("overwrite").parquet(args.changes)
        stream = spark.read.parquet(args.changes)
        chunk_size = max(1, (args.events + args.chunks - 1) // args.chunks)
        walls = []
        n_reps = max(1, args.repeats)
        for rep in range(n_reps):
            workdir = f"{args.workdir}_{args.mode}_r{rep}"
            shutil.rmtree(workdir, ignore_errors=True)
            applier = CdcApplier.bootstrap(
                spark, workdir, bucket_count=args.buckets, target_props=props,
            )
            t0 = time.monotonic()
            stats = applier.replay(
                stream, chunk_size=chunk_size,
                source_hi=args.events - 1, compact_at_end=False,
            )
            walls.append(round(time.monotonic() - t0, 3))
            applier.target.compact()
            total = sum(s.n_events for s in stats)
            if rep < n_reps - 1:
                shutil.rmtree(workdir, ignore_errors=True)
        # every rep applies the same input -> identical state; verify the
        # deterministic 10%-of-keys slice whose conv_id ends in "0" (it
        # holds the skew leg's hot key, conv_000000). The fold is per key,
        # so the oracle over the same slice of the stream folds to exactly
        # that slice of the state; full-state verification lives in the
        # sf0.01 driver gate and the replay_job --verify-oracle probe — at
        # 4M events with ~800-char texts the full-frame compare is the one
        # step that cannot fit beside the 48g bench JVM
        pdf = applier.target.read().where(
            F.col("conv_id").endswith("0")
        ).toPandas()
        if skew:
            sliced = f"{args.changes}_slice0"
            stream.where(F.col("conv_id").endswith("0")).write.mode(
                "overwrite"
            ).parquet(sliced)
            ok, msg = table_state_matches(pdf, expected_final_state(sliced))
            shutil.rmtree(sliced, ignore_errors=True)
        else:
            ok, msg = table_state_matches(
                pdf, expected_patch_state(args.changes, conv_suffix="0")
            )
        shutil.rmtree(f"{args.workdir}_{args.mode}_r{n_reps - 1}",
                      ignore_errors=True)
        best = min(walls)
        out.update(
            events_per_sec=round(total / best, 1),
            wall_sec=best, rep_walls=walls,
            verified_rows=len(pdf), oracle_match=bool(ok), oracle_msg=msg,
        )
        print(json.dumps(out))
        return 0

    # queries mode
    from data_services_spark.queries import REGISTRY

    # Untimed warm-up of the Arrow/pandas UDF machinery: the FIRST pandas
    # UDF in a JVM pays python-worker spin-up for every core (~2-3 s at
    # local[32]) — a fixed per-executor cost real long-lived executors pay
    # once at startup, not per query. Without this, whichever UDF query
    # happens to run first absorbs it (round-1 artifact: simhash_buckets'
    # wall was ~90% worker spin-up).
    from pyspark.sql import functions as _F

    @_F.pandas_udf("long")
    def _warm(v):
        return v

    spark.range(0, args.cpus * 4, 1, args.cpus).select(
        _warm("id")
    ).write.format("noop").mode("overwrite").save()

    # Untimed warm scan of every input table: parquet footers, page cache,
    # and the scan-stage codegen are per-executor startup costs on a real
    # long-lived cluster. Without this, whichever queries run FIRST in
    # registry order absorb them (the round-3 rotation made that visible:
    # the same sub-second query measures ~0.3 s late in the battery and
    # 5-30x that as the opening query of a cold JVM).
    from data_services_spark.queries import TABLES as _TABLES

    for _t in _TABLES:
        try:
            spark.read.parquet(f"{args.sf_dir}/{_t}.parquet").write.format(
                "noop"
            ).mode("overwrite").save()
        except Exception:
            pass  # missing optional table: the query that needs it will say so

    names = [n for n in args.queries.split(",") if n] or list(REGISTRY)
    # battery order: plain queries first, the engine-in-the-loop entries
    # (full CdcApplier replays — the heaviest and most GC/JIT-disruptive
    # block) last. Ordinary per-query walls then aren't inflated by the
    # engine block's JVM churn (round-4 run 7 measured simhash_buckets at
    # 3.9 s right after the engine block vs 0.9 s warm standalone), and a
    # deadline cut drops engine timings — whose correctness evidence lives
    # in the driver gate anyway — before ordinary coverage.
    names = [n for n in names if not n.startswith("engine_")] + \
            [n for n in names if n.startswith("engine_")]
    timings = {}
    failed = []
    skipped = []

    def _past_deadline() -> bool:
        return args.deadline_sec > 0 and (time.monotonic() - _T0) > args.deadline_sec

    def _run_once(name: str, record_fail: bool) -> float | None:
        t0 = time.monotonic()
        try:
            df = REGISTRY[name].fn(spark, args.sf_dir)
            # noop sink executes the full plan without driver collection
            df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # one broken query must not void the run
            # failures count only on the FIRST rep: a query with a valid
            # rep-1 timing that hits a transient rep-2 error keeps its
            # timing and is not contradictorily listed as failed too
            if record_fail:
                failed.append(name)
            print(f"QUERY FAILED {name}: {e}", file=sys.stderr)
            return None
        return round(time.monotonic() - t0, 3)

    for i, name in enumerate(names):
        if _past_deadline():
            skipped = names[i:]
            break
        w = _run_once(name, record_fail=True)
        if w is not None:
            timings[name] = w
    # Second rep for everything but the heavyweights, report the min —
    # same JIT-steady-state rationale as the CDC protocol: a sub-second
    # plan that happens to run early in a cold JVM pays first-compilation
    # of its whole operator class (measured 2-30x on this box), a fixed
    # cost a long-lived executor pays once. The host also shows
    # multi-second stall windows (hypervisor steal) that can hit any one
    # query; the 15 s threshold lets stall victims re-measure while the
    # genuinely heavy, rep-stable queries (ngram ~20 s, recall audit
    # ~50-75 s — walls match across rounds) run once to bound the battery.
    # The deadline bounds this pass too: first-rep coverage of every query
    # beats second-rep polish of a few.
    for name in [n for n, w in timings.items() if w < 15.0]:
        # up to 3 re-measures, stopping as soon as a rep fails to improve
        # the best by >30% — first-compilation / GC-shadow decay can span
        # more than one rep after a heavy neighbour (round-4: 12 s -> 0.9 s
        # across reps), while a steady query exits after one re-measure
        for _ in range(3):
            if _past_deadline():
                break
            best_before = timings[name]
            w = _run_once(name, record_fail=False)
            if w is None:
                break
            if w < timings[name]:
                timings[name] = w
            if w > 0.7 * best_before:
                break
    if failed:
        timings["_failed"] = sorted(set(failed))  # visible, never silent
    if skipped:
        timings["_skipped"] = skipped  # deadline hit: listed, never silent
    print(json.dumps(timings))
    return 0


if __name__ == "__main__":
    sys.exit(main())
