"""The CDC apply loop: change chunks -> LWW dedup -> bucket-pruned MERGE.

Per replay chunk (SURVEY.md §7.0, restating the reference's
fetch/validate/stage/commit lifecycle ``FAIMMS/REALTIME/faimms.py:123-229``
as one declarative plan):

1. slice the change stream to ``lsn in (lo, hi]`` (incremental scan — the
   checkpoint-bounded download-range idiom, ``aims_realtime_util.py:300-350``);
2. validation gates -> quarantine branch (``faimms.py:199-207``);
3. LWW dedup to one row per ``(conv_id, turn_idx)`` (map-side-combining
   aggregate; explicit salting available for pathological hot keys);
4. MERGE: union the deduped winners with the *current rows of only the
   affected buckets*, re-run LWW against the stored ``(ts, lsn)`` of each
   target row, drop delete-winners, rewrite those buckets copy-on-write.
   Unaffected buckets carry forward as metadata. Because the target keeps
   each row's writer ``(ts, lsn)``, re-applying any already-committed chunk
   (or any overlap) is a physical no-op on row content — at-least-once
   delivery + idempotent apply = exactly-once effect;
5. one atomic snapshot commit whose summary carries the new offsets
   (``last_lsn``, per-bucket watermarks) — checkpoint and data are the same
   commit, the invariant the reference approximates by saving channel info
   only after the move succeeds (``faimms.py:218-225``) and deriving the
   watermark from committed output (``pickle_db.py:64-85``);
6. lineage + metrics rows per (batch, bucket) appended to their tables,
   written driver-side with pyarrow (``LakeTable.append_rows``) — no
   Spark job.

Resume = read offsets from the last committed snapshot; a chunk whose ``hi``
is <= the committed LSN is skipped outright.
"""

from __future__ import annotations

import os
import sys
import time
from dataclasses import dataclass, field
from typing import Any

_PHASE_TIMING = os.environ.get("DSS_PHASE_TIMING") == "1"


def _phase(label: str, t0: float) -> float:
    """Optional stderr phase-timing (DSS_PHASE_TIMING=1) for bench tuning."""
    t1 = time.monotonic()
    if _PHASE_TIMING:
        print(f"[phase] {label}: {t1 - t0:.3f}s", file=sys.stderr)
    return t1

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..lake.table import LakeTable
from .dedup import lww_dedup
from .planner import plan_replay, plan_replay_bounds
from .schemas import KEY_COLS, LINEAGE_SCHEMA, ORDER_COLS, TRANSCRIPTS_SCHEMA


@dataclass
class ChunkStats:
    batch_id: int
    lo: int
    hi: int
    n_events: int = 0
    n_upserts: int = 0
    n_deletes: int = 0
    n_quarantined: int = 0
    duration_ms: int = 0
    skipped: bool = False
    snapshot_id: int | None = None
    affected_buckets: list[int] = field(default_factory=list)


class CdcApplier:
    def __init__(
        self,
        spark: SparkSession,
        target: LakeTable,
        lineage: LakeTable | None = None,
        quarantine: LakeTable | None = None,
        metrics: LakeTable | None = None,
        dedup_method: str = "max_by",
        salt_buckets: int = 64,
        with_lineage: bool = True,
        mode: str = "mor",
        compact_threshold: int | None = 16,
        validator=None,
    ):
        """``mode='mor'`` (default) appends each chunk's deduped winners as a
        merge-on-read delta layer — per chunk the table gains O(changed keys)
        bytes, the at-scale write path (Iceberg v2 equality deletes; how
        Flink's Iceberg upsert sink works). ``mode='cow'`` rewrites affected
        buckets copy-on-write — read-optimised, O(bucket size) per chunk.
        ``compact_threshold`` bounds MOR read amplification: replay compacts
        any bucket whose delta layer count reaches it."""
        self.spark = spark
        self.target = target
        self.lineage = lineage
        self.quarantine = quarantine
        self.metrics = metrics
        self.dedup_method = dedup_method
        self.salt_buckets = salt_buckets
        self.with_lineage = with_lineage
        self.mode = mode
        self.compact_threshold = compact_threshold
        self._lineage_buf: list[dict] = []
        self._metrics_buf: list[dict] = []
        # The applier is TABLE-DRIVEN, not transcripts-specific: merge keys
        # and LWW order come from the target's snapshot props, so the same
        # engine applies any keyed change stream (a sensor-measurement
        # table keyed (site, sensor, obs_time) is the reference's dominant
        # pipeline shape). ``validator`` overrides the gate ladder; the
        # default is the tuned transcripts ladder when the keys match it,
        # else the schema-agnostic envelope+keys ladder.
        snap0 = target.snapshot()
        props = snap0.props
        props_schema_fields = snap0.schema.fields
        self.keys: list[str] = list(props.get("merge_keys", KEY_COLS))
        self.order: list[str] = list(props.get("order_cols", ORDER_COLS))
        self.merge_engine: str | None = props.get("merge_engine")
        if (
            self.merge_engine in ("partial_update", "aggregation", "first_row")
            and mode != "mor"
        ):
            raise ValueError(
                f"{self.merge_engine} tables apply merge-on-read only: "
                "rows are resolved by the read fold; a copy-on-write "
                "rewrite would need the same fold inline — use mode='mor'"
            )
        if validator is not None:
            self._reason = validator
        elif self.merge_engine == "aggregation":
            from .validate import aggregation_validation_reason

            # deletes are REJECTED into quarantine (Paimon parity): an
            # aggregate cannot retract a contribution exactly under
            # out-of-order redelivery
            self._reason = lambda df: aggregation_validation_reason(
                df, self.keys
            )
        elif self.merge_engine == "first_row":
            from .validate import first_row_validation_reason

            # deletes are REJECTED into quarantine (Paimon parity): under
            # FWW a delete can never displace the earlier winner
            self._reason = lambda df: first_row_validation_reason(
                df, self.keys
            )
        elif self.merge_engine == "partial_update" and self.keys == KEY_COLS:
            from .validate import patch_validation_reason

            self._reason = patch_validation_reason
        elif self.merge_engine == "partial_update":
            from .validate import generic_validation_reason

            self._reason = lambda df: generic_validation_reason(
                df, self.keys, patch_ops=True
            )
        elif self.keys == KEY_COLS and {"role", "text"} <= {
            f.name for f in props_schema_fields
        }:
            # tuned transcripts ladder — keyed like transcripts AND carrying
            # the transcript payload (a custom table that merely reuses the
            # key names, e.g. a routed slice, gets the schema-agnostic
            # ladder instead of gates over columns it doesn't have)
            from .validate import validation_reason

            self._reason = validation_reason
        else:
            from .validate import generic_validation_reason

            self._reason = lambda df: generic_validation_reason(df, self.keys)

    def _chunk_rows(self, valid: DataFrame) -> DataFrame:
        """One chunk's delta rows, still carrying ``op``.

        Default (LWW) tables: the chunk's per-key winners — max_by with
        map-side combine, O(changed keys) rows.

        Partial-update tables: EVERY valid event becomes its own delta
        row, stamped with the hidden ``_wr`` per-column writer-rank
        struct the read fold resolves by — a pure column map, zero
        shuffles of its own (the bucket-clustering write is the chunk's
        only exchange, same as LWW). No within-chunk collapsing is even
        attempted: the fold is arrival-order free and a full write
        dominates every older patch per column (U-dominance), so
        pre-horizon events, redeliveries, and superseded full writes are
        dead weight that compaction folds away — paying three extra
        whole-chunk shuffles per chunk to drop them early (measured: the
        windowed variant ran at ~1/6 the LWW throughput) is the wrong
        trade. Delta bytes per chunk are O(valid events), the
        event-sourced shape a patch stream has anyway."""
        if self.merge_engine == "aggregation":
            # Aggregation tables: pre-fold the chunk per key — ONE
            # map-side-combinable aggregation (the same _agg_fold the read
            # path uses), so a hot key's event storm collapses before the
            # shuffle and delta bytes are O(changed keys) per chunk, same
            # as LWW. The folded rows carry op='U' and the per-column
            # write ranks of the positional functions, making them
            # re-mergeable partials (compaction and later chunks fold
            # them again through the same algebra).
            from ..lake.table import _agg_fns, _agg_fold, _patch_payload_cols

            snap = self.target.snapshot()
            types = {f.name: f.dataType for f in snap.schema.fields}
            pcols = _patch_payload_cols(snap.schema, self.keys, self.order)
            filled = valid
            for c in pcols:  # additive evolution: stream may lag the schema
                if c not in filled.columns:
                    filled = filled.withColumn(c, F.lit(None).cast(types[c]))
            stamped = self.target._stamp_writer_ranks(filled)
            return _agg_fold(
                stamped, self.keys, self.order, pcols, _agg_fns(snap),
                keep_internal=True,
            )
        if self.merge_engine != "partial_update":
            # first_row tables pre-fold each chunk to its FIRST writer per
            # key (min over the order) — same map-side-combinable shape as
            # LWW, and min composes identically across chunk, compaction,
            # and read folds
            return lww_dedup(
                valid,
                keys=self.keys,
                order=self.order,
                method=self.dedup_method,
                salt_buckets=self.salt_buckets,
                keep="first" if self.merge_engine == "first_row" else "last",
            )
        norm = valid.withColumn(
            "op", F.when(F.col("op") == "I", "U").otherwise(F.col("op"))
        )
        snap_schema = self.target.snapshot().schema
        payload = [
            f.name for f in snap_schema.fields
            if f.name not in self.keys and f.name not in self.order
            and f.name not in ("op", "_wr") and f.name in norm.columns
        ]
        wrote_rank = F.struct(*[F.col(o) for o in self.order])
        wr = F.struct(*[
            F.when(F.col("op") == "U", wrote_rank)
            .when((F.col("op") == "P") & F.col(c).isNotNull(), wrote_rank)
            .alias(c)
            for c in payload
        ])
        return norm.withColumn("_wr", wr)

    def _split(self, df: DataFrame) -> tuple[DataFrame, DataFrame]:
        """(valid, quarantined-with-reason) under this applier's validator."""
        tagged = df.withColumn("reason", self._reason(df))
        return (
            tagged.where(F.col("reason").isNull()).drop("reason"),
            tagged.where(F.col("reason").isNotNull()),
        )

    # ------------------------------------------------------------- bootstrap
    @classmethod
    def bootstrap(
        cls,
        spark: SparkSession,
        root: str,
        bucket_count: int = 16,
        target_props: dict[str, Any] | None = None,
        **kwargs: Any,
    ) -> "CdcApplier":
        """Create the target/lineage/quarantine tables under ``root``.
        ``target_props`` merges extra table properties into the target
        (e.g. ``stats_cols`` to enable manifest-level data skipping)."""
        target = LakeTable.create(
            spark, f"{root}/transcripts", TRANSCRIPTS_SCHEMA, KEY_COLS, bucket_count,
            props={"merge_keys": KEY_COLS, "order_cols": ORDER_COLS,
                   **(target_props or {})},
        )
        lineage = LakeTable.create(
            spark, f"{root}/lineage", LINEAGE_SCHEMA, ["source_partition"], 4
        )
        from .schemas import CHANGES_SCHEMA
        from pyspark.sql import types as T

        q_schema = T.StructType(
            CHANGES_SCHEMA.fields
            + [
                T.StructField("reason", T.StringType(), True),
                T.StructField("batch_id", T.LongType(), True),
            ]
        )
        quarantine = LakeTable.create(spark, f"{root}/quarantine", q_schema, ["lsn"], 4)
        from .schemas import METRICS_SCHEMA

        metrics = LakeTable.create(
            spark, f"{root}/metrics", METRICS_SCHEMA, ["batch_id"], 1
        )
        return cls(spark, target, lineage, quarantine, metrics, **kwargs)

    @classmethod
    def bootstrap_custom(
        cls,
        spark: SparkSession,
        root: str,
        schema,
        merge_keys: list[str],
        order_cols: list[str] | None = None,
        table_name: str = "target",
        bucket_count: int = 16,
        target_props: dict[str, Any] | None = None,
        **kwargs: Any,
    ) -> "CdcApplier":
        """Bootstrap the SAME apply machinery for an arbitrary keyed table —
        the reference's dominant shape is a sensor-measurement series keyed
        (site/sensor, obs time), not transcripts; one engine serves both.
        ``schema`` must contain the ``order_cols`` (default ``[ts, lsn]``:
        event time + LSN tiebreak, which also makes replay idempotent).
        ``target_props`` merges extra table properties into the target
        (e.g. ``merge_engine='aggregation'`` + ``agg_functions``)."""
        from pyspark.sql import types as T

        order_cols = list(order_cols or ORDER_COLS)
        names = {f.name for f in schema.fields}
        missing = [c for c in list(merge_keys) + order_cols if c not in names]
        if missing:
            raise ValueError(f"target schema lacks key/order columns: {missing}")
        target = LakeTable.create(
            spark, f"{root}/{table_name}", schema, list(merge_keys), bucket_count,
            props={"merge_keys": list(merge_keys), "order_cols": order_cols,
                   **(target_props or {})},
        )
        lineage = LakeTable.create(
            spark, f"{root}/lineage", LINEAGE_SCHEMA, ["source_partition"], 4
        )
        q_fields = list(schema.fields)
        if "op" not in names:
            q_fields.append(T.StructField("op", T.StringType(), True))
        q_fields += [
            T.StructField("reason", T.StringType(), True),
            T.StructField("batch_id", T.LongType(), True),
        ]
        quarantine = LakeTable.create(
            spark, f"{root}/quarantine", T.StructType(q_fields), ["lsn"], 4
        )
        from .schemas import METRICS_SCHEMA

        metrics = LakeTable.create(
            spark, f"{root}/metrics", METRICS_SCHEMA, ["batch_id"], 1
        )
        return cls(spark, target, lineage, quarantine, metrics, **kwargs)

    @classmethod
    def load(
        cls, spark: SparkSession, root: str,
        table_name: str = "transcripts", **kwargs: Any,
    ) -> "CdcApplier":
        metrics_path = f"{root}/metrics"
        return cls(
            spark,
            LakeTable(spark, f"{root}/{table_name}"),
            LakeTable(spark, f"{root}/lineage"),
            LakeTable(spark, f"{root}/quarantine"),
            LakeTable(spark, metrics_path) if LakeTable.exists(metrics_path) else None,
            **kwargs,
        )

    # ------------------------------------------------------------ checkpoint
    def committed_lsn(self) -> int | None:
        """The authoritative checkpoint: offsets recorded in the last
        committed snapshot's summary."""
        off = self.target.snapshot().summary.get("offsets")
        return None if off is None else off.get("last_lsn")

    # ----------------------------------------------------------------- apply
    def apply_chunk(
        self,
        chunk: DataFrame,
        lo: int,
        hi: int | None,
        batch_id: int,
        epoch: int | None = None,
        defer_lineage: bool = False,
    ) -> ChunkStats:
        """Apply one chunk. Batch replay passes an LSN range (lo, hi];
        streaming passes ``epoch`` (micro-batch id) instead and ``hi=None``
        (derived from the batch's own max LSN). Skip rules give exactly-once:
        LSN-ranged chunks skip when hi <= committed LSN; epochs skip when
        epoch <= committed epoch (foreachBatch redelivery)."""
        t0 = time.monotonic()
        stats = ChunkStats(batch_id=batch_id, lo=lo, hi=hi if hi is not None else -1)

        if epoch is not None:
            if epoch <= self.target.snapshot().summary.get("epoch", -1):
                stats.skipped = True  # redelivered micro-batch -> no-op
                return stats
        else:
            committed = self.committed_lsn()
            if committed is not None and hi is not None and hi <= committed:
                stats.skipped = True  # duplicate chunk replay -> no-op
                return stats

        snap = self.target.snapshot()
        if self.mode == "mor":
            return self._apply_chunk_mor(
                chunk, hi, batch_id, epoch, defer_lineage, snap, stats, t0
            )
        bucket_col = self.target.bucket_col()
        ok = self._reason(chunk).isNull()
        # ONE slim aggregate pass gives per-bucket metrics, quarantine
        # counts AND the affected-bucket list (collect is <= bucket_count + 1
        # rows, never data-sized). It reads only the five narrow columns
        # (keys/op/lsn/ts) — parquet column pruning keeps it ~10% of the
        # chunk's bytes, which measured CHEAPER than fusing it into the
        # payload-wide winners aggregation and persisting that (the persist
        # serializes full text payloads and cost more than this pass saves).
        # Invalid rows group under their bucket too (hash of a NULL key is
        # defined), so lineage attributes them.
        valid, _ = self._split(chunk)
        per_bucket = (
            chunk.withColumn("_ok", ok)
            .withColumn("_b", bucket_col)
            .groupBy("_b")
            .agg(
                F.sum(F.col("_ok").cast("long")).alias("n_events"),
                F.sum((F.col("_ok") & (F.col("op") != "D")).cast("long")).alias("n_upserts"),
                F.sum((F.col("_ok") & (F.col("op") == "D")).cast("long")).alias("n_deletes"),
                F.sum((~F.col("_ok")).cast("long")).alias("n_quarantined"),
                F.min(F.when(F.col("_ok"), F.col("lsn"))).alias("min_lsn"),
                F.max(F.when(F.col("_ok"), F.col("lsn"))).alias("max_lsn"),
                F.min(F.when(F.col("_ok"), F.col("ts"))).alias("min_ts"),
                F.max(F.when(F.col("_ok"), F.col("ts"))).alias("max_ts"),
            )
            .collect()
        )
        tp = _phase("metrics_agg", t0)
        stats.n_quarantined = sum(r["n_quarantined"] for r in per_bucket)
        per_bucket = [r for r in per_bucket if r["n_events"] > 0]
        if not per_bucket:
            # nothing valid in the chunk — still advance the offset so the
            # chunk is never replayed (metadata-only commit)
            if stats.n_quarantined:
                self._write_quarantine(self._split(chunk)[1], batch_id)
            self.target.commit_summary(
                self._summary(snap, hi, batch_id, {}, epoch),
                expected_parent=snap.snapshot_id,
            )
            stats.duration_ms = int((time.monotonic() - t0) * 1000)
            return stats

        affected = sorted(int(r["_b"]) for r in per_bucket)
        stats.affected_buckets = affected
        stats.n_events = sum(r["n_events"] for r in per_bucket)
        stats.n_upserts = sum(r["n_upserts"] for r in per_bucket)
        stats.n_deletes = sum(r["n_deletes"] for r in per_bucket)

        if hi is None:  # streaming: offsets derived from the batch itself
            hi = max(int(r["max_lsn"]) for r in per_bucket)
            stats.hi = hi
        # keyed off each row's own bucket id — collect() order is arbitrary,
        # so zipping against the sorted bucket list would misattribute stats
        per_part = {str(int(r["_b"])): int(r["max_lsn"]) for r in per_bucket}
        summary = self._summary(snap, hi, batch_id, per_part, epoch)
        existing = [f.name for f in snap.schema.fields]

        # LWW winners of this chunk, one row per key, still carrying op
        # ('D' winners are delete tombstones). max_by plans as a partial
        # aggregation — duplicate deliveries collapse map-side, before the
        # shuffle.
        winners = lww_dedup(
            valid,
            keys=self.keys,
            order=self.order,
            method=self.dedup_method,
            salt_buckets=self.salt_buckets,
        )

        # --- copy-on-write merge: union the chunk's winners with the
        # affected target rows and run ONE LWW aggregation over both.
        # Two exchanges per chunk: hash(conv_id, turn_idx) for the
        # aggregate, then hash(bucket) to cluster the write.
        # Existing rows come back WITH their tombstones (keep_tombstones):
        # a delete that already won must keep guarding its key against
        # stale pre-delete events in this and every later chunk, so 'D'
        # winners are written back to the base (filtered at read; GC'd
        # only by the explicit expire_tombstones horizon).
        current = self.target.read(
            buckets=affected, keep_tombstones=True
        ).withColumn("op", F.coalesce(F.col("op"), F.lit("K")))
        united = current.unionByName(winners, allowMissingColumns=True)
        resolved = lww_dedup(
            united,
            keys=self.keys,
            order=self.order,
            method=self.dedup_method,
            salt_buckets=self.salt_buckets,
        )
        merged = resolved.withColumn(
            "op",
            F.when(F.col("op") == "D", F.lit("D")).otherwise(
                F.lit(None).cast("string")
            ),
        )

        # column order: existing schema first, additive columns appended,
        # the reserved tombstone marker last (kept in data files only)
        new_cols = [c for c in merged.columns if c not in existing and c != "op"]
        merged = merged.select(*existing, *new_cols, "op")

        # Quarantine is written BEFORE the offset-advancing commit (same
        # ordering as _apply_chunk_mor): a crash between the two re-applies
        # the chunk (idempotent) instead of silently losing the rejected
        # rows — the reverse order would skip the chunk on replay and the
        # quarantined events would be gone.
        if stats.n_quarantined:
            self._write_quarantine(self._split(chunk)[1], batch_id)
            tp = _phase("quarantine", tp)

        new_snap = self.target.replace_buckets(
            merged,
            affected,
            summary=summary,
            sort_cols=self.keys,
            expected_parent=snap.snapshot_id,
            props_update=(
                {"base_tombstones": True}
                if stats.n_deletes or snap.props.get("base_tombstones")
                else None
            ),
        )
        stats.snapshot_id = new_snap.snapshot_id
        tp = _phase("merge_write", tp)
        stats.duration_ms = int((time.monotonic() - t0) * 1000)

        if self.with_lineage and self.lineage is not None:
            rows = [
                {
                    "batch_id": batch_id,
                    "source_partition": int(r["_b"]),
                    "n_events": r["n_events"],
                    "n_upserts": r["n_upserts"],
                    "n_deletes": r["n_deletes"],
                    "n_quarantined": r["n_quarantined"],
                    "min_lsn": r["min_lsn"],
                    "max_lsn": r["max_lsn"],
                    "min_ts": r["min_ts"],
                    "max_ts": r["max_ts"],
                    "status": "ok",
                    "duration_ms": stats.duration_ms if i == 0 else 0,
                }
                for i, r in enumerate(per_bucket)
            ]
            if defer_lineage:
                # replay batches many chunks' rows into ONE lineage commit —
                # fewer control-table commits and files per replay (one
                # per chunk would scale with chunk count, not data)
                self._lineage_buf.extend(rows)
            else:
                self.lineage.append_rows(rows, summary={"batch_id": batch_id})
            _phase("lineage", tp)
        return stats

    # ------------------------------------------------------- MOR fused path
    def _apply_chunk_mor(
        self,
        chunk: DataFrame,
        hi: int | None,
        batch_id: int,
        epoch: int | None,
        defer_lineage: bool,
        snap: Any,
        stats: ChunkStats,
        t0: float,
    ) -> ChunkStats:
        """Merge-on-read apply with a FUSED metrics pass: the chunk is
        scanned exactly once. Validation counters and the offset watermark
        ride the winners-write job as an ``Observation`` (zero extra scan,
        zero extra job); per-bucket lineage stats come from a narrow
        read-back of the just-written — still uncommitted — delta files
        (O(changed keys) rows, not O(chunk)). The commit then publishes
        files + offsets atomically (two-phase: write_delta_files ->
        commit_delta), so a crash between the phases leaves only an
        orphaned, never-referenced data dir."""
        from pyspark.sql import Observation

        tagged = chunk.withColumn("_reason", self._reason(chunk))
        ok = F.col("_reason").isNull()
        obs = Observation()
        tagged = tagged.observe(
            obs,
            F.sum(ok.cast("long")).alias("n_events"),
            F.sum((ok & (F.col("op") != "D")).cast("long")).alias("n_upserts"),
            F.sum((ok & (F.col("op") == "D")).cast("long")).alias("n_deletes"),
            F.sum((~ok).cast("long")).alias("n_quarantined"),
            F.max(F.when(ok, F.col("lsn"))).alias("max_lsn"),
        )
        valid = tagged.where(F.col("_reason").isNull()).drop("_reason")

        # Delta rows of this chunk, still carrying op ('D' winners are
        # delete tombstones). LWW tables: per-key winners via max_by
        # (map-side combine — duplicate deliveries collapse before the
        # shuffle); partial-update tables: full-write winners plus
        # per-event patch rows with writer ranks. Either way the rows —
        # including tombstones — append as a delta layer: per chunk the
        # table gains O(changed rows) bytes, not O(affected-bucket size)
        # (Iceberg v2 equality-delete design).
        winners = self._chunk_rows(valid)
        existing = [f.name for f in snap.schema.fields]
        cols = (
            [c for c in existing if c in winners.columns]
            + [c for c in winners.columns if c not in existing and c != "op"]
            + ["op"]
        )
        # _del marker (1 on tombstones, NULL otherwise): parquet footers
        # then carry the exact per-bucket delete count as a null_count —
        # the stats below never need a Spark job
        winners = winners.select(cols).withColumn(
            "_del", F.when(F.col("op") == "D", F.lit(1))
        )
        # the LWW aggregation hash-partitions on the merge keys; when the
        # table's buckets use the same murmur3 hash (co_partitioned_write_ok)
        # the winners are ALREADY clustered by bucket and the write skips
        # its repartition — one full-payload shuffle per chunk, not two
        commit_dir, new_files = self.target.write_delta_files(
            winners, sort_cols=self.keys,
            # patch chunks union two branches (full-write winners + patch
            # rows) — partitioning is not the single clean aggregate
            # output the fast path asserts
            pre_partitioned=(self.merge_engine != "partial_update"
                             and self.target.co_partitioned_write_ok(self.keys)),
        )
        m = obs.get  # populated by the write action above
        tp = _phase("winners_write", t0)
        stats.n_events = int(m["n_events"] or 0)
        stats.n_upserts = int(m["n_upserts"] or 0)
        stats.n_deletes = int(m["n_deletes"] or 0)
        stats.n_quarantined = int(m["n_quarantined"] or 0)

        if not new_files:
            # nothing valid in the chunk — still advance the offset so the
            # chunk is never replayed (metadata-only commit)
            if stats.n_quarantined:
                self._write_quarantine(self._split(chunk)[1], batch_id)
            self.target.commit_summary(
                self._summary(snap, hi, batch_id, {}, epoch),
                expected_parent=snap.snapshot_id,
            )
            stats.duration_ms = int((time.monotonic() - t0) * 1000)
            return stats

        affected = sorted(int(b) for b in new_files)
        stats.affected_buckets = affected
        if hi is None:  # streaming: offsets derived from the batch itself
            hi = int(m["max_lsn"])
            stats.hi = hi

        # per-bucket stats from parquet footers (driver-side, ~1 ms/file —
        # no Spark job, no scan): row counts, exact lsn/ts min/max, and the
        # delete count via the _del null-count trick
        per_bucket = self.target.file_stats(new_files)
        tp = _phase("bucket_stats", tp)
        # Footer stats cover WINNER rows only; LWW orders by (ts, lsn), so a
        # high-lsn/older-ts loser can leave the footer max below the lsn
        # actually consumed. per_partition is therefore informational (it is
        # max-merged in _summary and must never drive resume — last_lsn is
        # the checkpoint). Absent footer stats fall back to the chunk hi.
        per_part = {
            b: int(st["max_lsn"]) if st["max_lsn"] is not None else int(hi)
            for b, st in per_bucket.items()
        }
        if any(st["max_lsn"] is None for st in per_bucket.values()):
            print(
                "[cdc] warning: parquet footer lsn stats missing for some "
                "buckets; per-partition watermarks fell back to chunk hi",
                file=sys.stderr,
            )
        summary = self._summary(snap, hi, batch_id, per_part, epoch)

        # Quarantine is written BEFORE the offset-advancing commit: a crash
        # between the two re-applies the chunk (idempotent) instead of
        # silently losing the rejected rows (the reverse order would skip
        # the chunk on replay and the quarantined events would be gone).
        if stats.n_quarantined:
            self._write_quarantine(self._split(chunk)[1], batch_id)
            tp = _phase("quarantine", tp)

        new_snap = self.target.commit_delta(
            new_files, winners.schema, summary, expected_parent=snap.snapshot_id
        )
        stats.snapshot_id = new_snap.snapshot_id
        stats.duration_ms = int((time.monotonic() - t0) * 1000)

        if self.with_lineage and self.lineage is not None:
            rows = [
                {
                    "batch_id": batch_id,
                    "source_partition": int(b),
                    # winner-level counts (rows materialized per bucket);
                    # chunk-level event counts live in the metrics table.
                    # Global quarantine count rides row 0.
                    "n_events": st["n_rows"],
                    "n_upserts": st["n_rows"] - st["n_deletes"],
                    "n_deletes": st["n_deletes"],
                    "n_quarantined": stats.n_quarantined if i == 0 else 0,
                    "min_lsn": st["min_lsn"],
                    "max_lsn": st["max_lsn"],
                    "min_ts": st["min_ts"],
                    "max_ts": st["max_ts"],
                    "status": "ok",
                    "duration_ms": stats.duration_ms if i == 0 else 0,
                }
                for i, (b, st) in enumerate(sorted(per_bucket.items(), key=lambda kv: int(kv[0])))
            ]
            if defer_lineage:
                self._lineage_buf.extend(rows)
            else:
                self.lineage.append_rows(rows, summary={"batch_id": batch_id})
            _phase("lineage", tp)
        if self.metrics is not None:
            self._metrics_buf.append(
                {
                    "batch_id": batch_id,
                    "epoch": epoch,
                    "hi_lsn": hi,
                    "n_events": stats.n_events,
                    "n_upserts": stats.n_upserts,
                    "n_deletes": stats.n_deletes,
                    "n_quarantined": stats.n_quarantined,
                    "n_winner_rows": sum(st["n_rows"] for st in per_bucket.values()),
                    "n_affected_buckets": len(affected),
                    "duration_ms": stats.duration_ms,
                }
            )
            if not defer_lineage:
                self.flush_metrics()
        return stats

    def flush_lineage(self) -> None:
        """Write any buffered lineage + metrics rows, one append commit
        each (one commit per chunk would multiply control-table commits
        and files over a long replay)."""
        if self._lineage_buf and self.lineage is not None:
            rows, self._lineage_buf = self._lineage_buf, []
            self.lineage.append_rows(
                rows, summary={"batch_id": rows[-1]["batch_id"]}
            )
        self.flush_metrics()

    def flush_metrics(self) -> None:
        """Write any buffered batch-level metrics rows as one commit."""
        if not self._metrics_buf or self.metrics is None:
            return
        rows, self._metrics_buf = self._metrics_buf, []
        self.metrics.append_rows(
            rows, summary={"batch_id": rows[-1]["batch_id"]}
        )

    def _summary(
        self,
        prev_snap: Any,
        hi: int | None,
        batch_id: int,
        per_partition: dict[str, int],
        epoch: int | None = None,
    ) -> dict[str, Any]:
        prev = prev_snap.summary.get("offsets", {})
        # max-merge so per-bucket watermarks never move backwards across
        # chunks (footer-derived values reflect winner rows, not every
        # consumed event — see _apply_chunk_mor). Informational only;
        # resume is driven exclusively by last_lsn.
        merged_pp = dict(prev.get("per_partition", {}))
        for b, v in per_partition.items():
            old = merged_pp.get(b)
            merged_pp[b] = v if old is None else max(int(old), int(v))
        prev_hi = prev.get("last_lsn", -1)
        out: dict[str, Any] = {
            "batch_id": batch_id,
            "offsets": {
                "last_lsn": prev_hi if hi is None else max(prev_hi, hi),
                "per_partition": merged_pp,
            },
        }
        if epoch is not None:
            out["epoch"] = epoch
        elif "epoch" in prev_snap.summary:  # don't lose stream progress
            out["epoch"] = prev_snap.summary["epoch"]
        return out

    def _write_quarantine(self, quarantined: DataFrame, batch_id: int) -> None:
        """Rejected events land in the quarantine table (reference: failing
        files copied to wip/errors for redownload, ``faimms.py:15-18``) —
        re-processable, never silently dropped."""
        if self.quarantine is None:
            return
        q = quarantined.withColumn("batch_id", F.lit(batch_id).cast("long"))
        self.quarantine.append(q, summary={"batch_id": batch_id})

    # ---------------------------------------------------------------- erase
    def erase_subject(self, subject: dict[str, list]) -> dict:
        """Right-to-be-forgotten sweep for a SUBJECT — a value set over a
        prefix of the merge keys (e.g. ``{"conv_id": ["u0007"]}`` erases
        every turn of those conversations):

        1. one column-pruned scan of the target collects the subject's
           full merge keys (the bucket hash covers every key column, so a
           prefix cannot prune — this scan is the honest cost of a
           subject-level request on a key-bucketed table);
        2. ``LakeTable.erase`` rewrites the affected buckets without the
           rows and plants payload-free anti-resurrection tombstones;
        3. the quarantine lane is ``purge``d of the subject's raw events
           (invalid events carry the payload too — a compliance sweep
           that forgets the reject pile isn't one). Lineage and metrics
           hold only counts, no payload, so they keep their audit value.

        Old snapshots still reference the erased bytes until
        ``expire_snapshots`` runs — the returned dict reminds the
        operator (Iceberg/Delta have the identical two-step: DELETE then
        VACUUM)."""
        if not subject:
            raise ValueError(
                "subject must name at least one merge-key column "
                f"(merge keys: {self.keys})"
            )
        bad = [c for c in subject if c not in self.keys]
        if bad:
            raise ValueError(
                f"subject columns {bad} are not merge keys {self.keys}"
            )
        cond = None
        for c, vals in subject.items():
            term = F.col(c).isin(*vals)
            cond = term if cond is None else (cond & term)
        keys = (
            self.target.read()
            .where(cond)
            .select(*self.target.bucket_keys)
            .dropDuplicates()
            .localCheckpoint(eager=True)
        )
        res_t = self.target.erase(keys, summary={"erase_subject": subject})
        res_q = {"purged": 0}
        if self.quarantine is not None:
            # quarantine purge matches on the subject columns directly
            # (its raw events carry them); conjunctive subject = the
            # cartesian product of the per-column value lists
            import itertools

            cols = list(subject.keys())
            rows = [
                dict(zip(cols, combo))
                for combo in itertools.product(*subject.values())
            ]
            res_q = self.quarantine.purge(
                rows, key_cols=cols, summary={"erase_subject": subject},
            )
        return {
            "target_erased": res_t["erased"],
            "quarantine_purged": res_q["purged"],
            "note": "historic snapshots retain bytes until expire_snapshots",
        }

    # ---------------------------------------------------------------- requeue
    def requeue_quarantine(self) -> dict:
        """Re-drive quarantined events under the CURRENT validator: rows
        that now pass (a rule was relaxed, a mapping fixed, an upstream
        bug corrected) re-enter the normal LWW apply path; rows that still
        fail are kept with their re-evaluated reason.

        Safety properties:

        * **LWW makes late re-drive order-safe** — a requeued event
          competes on ``order_cols`` (ts, lsn) like any other delivery, so
          it can never override a newer already-applied row; the read-time
          merge and compaction resolve by rank, not arrival order.
        * **Offsets never move** — quarantined LSNs are <= the committed
          watermark by construction, and apply_chunk's hi=None path takes
          max(prev, batch_max), so the checkpoint is untouched and normal
          replay resume is unaffected.
        * **Crash-safe order** — the target commit lands BEFORE the
          quarantine rewrite. A crash between them re-applies the same
          events on the next invocation (keyed LWW apply is final-state
          idempotent) and then rewrites; the reverse order could lose
          events forever.

        Reference: failing files are copied to wip/errors and re-fed to the
        pipeline after a fix (``faimms.py:15-18``); this is that loop as a
        single idempotent job.
        """
        if self.quarantine is None:
            raise ValueError("this applier has no quarantine table")
        q = self.quarantine.read()
        change_cols = [c for c in q.columns if c not in ("reason", "batch_id")]
        events = q.select(*change_cols)
        now_valid, still_bad = self._split(events)
        n_valid = now_valid.count()
        out: dict[str, Any] = {"requeued": int(n_valid)}
        if n_valid == 0:
            # nothing newly valid: pure no-op, no commit (idempotence —
            # calling this twice in a row leaves zero new snapshots)
            out["still_quarantined"] = int(events.count())
            return out
        # next id clears BOTH tables' high-water batch ids: the quarantine
        # side can run ahead of the target when a crash lands between the
        # quarantine append and the target commit, and a colliding id would
        # mis-attribute lineage/quarantine rows to two different batches
        requeue_batch = (
            max(
                self.target.snapshot().summary.get("batch_id", -1),
                self.quarantine.snapshot().summary.get("batch_id", -1),
            )
            + 1
        )
        stats = self.apply_chunk(
            now_valid, lo=-1, hi=None, batch_id=requeue_batch
        )
        self.flush_lineage()
        self.flush_metrics()
        out.update(
            batch_id=requeue_batch,
            n_upserts=stats.n_upserts,
            n_deletes=stats.n_deletes,
            snapshot_id=stats.snapshot_id,
        )
        still = still_bad.withColumn(
            "batch_id", F.lit(requeue_batch).cast("long")
        )
        self.quarantine.overwrite(
            still, summary={"batch_id": requeue_batch, "requeue": True}
        )
        out["still_quarantined"] = int(still.count())
        return out

    # ------------------------------------------------- write-audit-publish
    def stage_chunk(
        self,
        chunk: DataFrame,
        wap_id: str,
        hi: int | None = None,
        batch_id: int | None = None,
        epoch: int | None = None,
    ) -> dict[str, Any]:
        """WAP ingest (Iceberg ``wap.id`` workflow): validate + LWW-dedup
        the chunk exactly like the MOR apply path, but STAGE the winner
        delta layer instead of committing it — readers cannot see it, and
        ``committed_lsn()`` is unchanged. The offsets the chunk would
        commit ride the staged summary and become visible atomically with
        the data at :meth:`publish_chunk`, so exactly-once holds across
        audit rejection: an abandoned batch is simply replayed or
        re-staged later. Invalid rows quarantine immediately (they are
        invalid regardless of the audit outcome — same
        quarantine-before-commit ordering as ``apply_chunk``).
        Reference analogue: files wait in wip/ until the checker passes
        before moving into the indexed hierarchy; here the "move" is one
        atomic snapshot flip over audited bytes."""
        from pyspark.sql import Observation

        if self.mode != "mor":
            raise ValueError("stage_chunk requires mode='mor' (delta staging)")
        snap = self.target.snapshot()
        if batch_id is None:
            batch_id = int(snap.summary.get("batch_id", -1)) + 1
        if epoch is not None:  # streaming: redelivered micro-batch -> no-op
            if epoch <= snap.summary.get("epoch", -1):
                return {"wap_id": wap_id, "skipped": True}
        else:
            committed = self.committed_lsn()
            if committed is not None and hi is not None and hi <= committed:
                return {"wap_id": wap_id, "skipped": True}

        tagged = chunk.withColumn("_reason", self._reason(chunk))
        ok = F.col("_reason").isNull()
        obs = Observation()
        tagged = tagged.observe(
            obs,
            F.sum(ok.cast("long")).alias("n_events"),
            F.sum((~ok).cast("long")).alias("n_quarantined"),
            F.max(F.when(ok, F.col("lsn"))).alias("max_lsn"),
        )
        valid = tagged.where(F.col("_reason").isNull()).drop("_reason")
        winners = self._chunk_rows(valid)
        existing = [f.name for f in snap.schema.fields]
        cols = (
            [c for c in existing if c in winners.columns]
            + [c for c in winners.columns if c not in existing and c != "op"]
            + ["op"]
        )
        winners = winners.select(cols).withColumn(
            "_del", F.when(F.col("op") == "D", F.lit(1))
        )
        _, new_files = self.target.write_delta_files(
            winners, sort_cols=self.keys,
            # patch chunks union two branches (full-write winners + patch
            # rows) — partitioning is not the single clean aggregate
            # output the fast path asserts
            pre_partitioned=(self.merge_engine != "partial_update"
                             and self.target.co_partitioned_write_ok(self.keys)),
        )
        m = obs.get  # populated by the write action above
        if hi is None and m["max_lsn"] is not None:
            hi = int(m["max_lsn"])
        per_bucket = self.target.file_stats(new_files)
        per_part = {
            b: int(st["max_lsn"]) if st["max_lsn"] is not None else int(hi)
            for b, st in per_bucket.items()
            if st["max_lsn"] is not None or hi is not None
        }
        summary = self._summary(snap, hi, batch_id, per_part, epoch)
        if int(m["n_quarantined"] or 0):
            self._write_quarantine(self._split(chunk)[1], batch_id)
        man = self.target.stage_files(new_files, winners.schema, wap_id, summary)
        return {
            "wap_id": wap_id,
            "skipped": False,
            "base_id": man["base_id"],
            "batch_id": batch_id,
            "hi": hi,
            "n_events": int(m["n_events"] or 0),
            "n_quarantined": int(m["n_quarantined"] or 0),
            "staged_files": sum(len(fs) for fs in new_files.values()),
        }

    def audit_staged(
        self,
        wap_id: str,
        suite: Any | None = None,
        refs: dict[str, DataFrame] | None = None,
    ) -> tuple[bool, DataFrame]:
        """The A of WAP: run a contract suite over the staged state — the
        EXACT bytes publish would expose, resolved through the normal LWW /
        tombstone read path. Returns ``(passed, report_df)``; the caller
        publishes or abandons on the verdict."""
        if suite is None:
            from ..contracts import transcripts_suite

            suite = transcripts_suite()
        report = suite.run(self.target.read_staged(wap_id), refs=refs)
        passed = report.where(F.col("n_violations") > 0).count() == 0
        return passed, report

    def publish_chunk(self, wap_id: str) -> int:
        """WAP publish: one metadata-only snapshot flip makes files AND
        offsets visible together. Lineage records the batch per bucket with
        ``status='wap_published'``. Returns the published snapshot id."""
        man = self.target.staged_manifest(wap_id)
        per_bucket = (
            self.target.file_stats(man["new_files"]) if man["new_files"] else {}
        )
        snap = self.target.publish_staged(wap_id)
        batch_id = int(man.get("summary", {}).get("batch_id", -1))
        if self.with_lineage and self.lineage is not None and per_bucket:
            rows = [
                {
                    "batch_id": batch_id,
                    "source_partition": int(b),
                    "n_events": st["n_rows"],
                    "n_upserts": st["n_rows"] - st["n_deletes"],
                    "n_deletes": st["n_deletes"],
                    "n_quarantined": 0,
                    "min_lsn": st["min_lsn"],
                    "max_lsn": st["max_lsn"],
                    "min_ts": st["min_ts"],
                    "max_ts": st["max_ts"],
                    "status": "wap_published",
                    "duration_ms": 0,
                }
                for b, st in sorted(per_bucket.items(), key=lambda kv: int(kv[0]))
            ]
            self.lineage.append_rows(rows, summary={"batch_id": batch_id})
        return snap.snapshot_id

    def abandon_chunk(self, wap_id: str) -> int:
        """WAP reject: delete the staged files + manifest; offsets never
        advanced, so the batch's events replay (or re-stage) later — audit
        rejection costs no events. A ``status='wap_abandoned'`` lineage row
        keeps the rejection observable. Returns files removed."""
        man = self.target.staged_manifest(wap_id)
        n = self.target.abandon_staged(wap_id)
        batch_id = int(man.get("summary", {}).get("batch_id", -1))
        if self.with_lineage and self.lineage is not None:
            row = [{
                "batch_id": batch_id,
                "source_partition": -1,
                "n_events": 0, "n_upserts": 0, "n_deletes": 0,
                "n_quarantined": 0,
                "min_lsn": None, "max_lsn": None,
                "min_ts": None, "max_ts": None,
                "status": "wap_abandoned",
                "duration_ms": 0,
            }]
            self.lineage.append_rows(row, summary={"batch_id": batch_id})
        return n

    # ---------------------------------------------------------------- replay
    def replay(
        self,
        changes: DataFrame,
        chunk_size: int | None = None,
        source_hi: int | None = None,
        compact_at_end: bool = False,
        chunk_rows: int | None = None,
    ) -> list[ChunkStats]:
        """Replay everything past the checkpoint, chunk by chunk. Safe to
        kill between chunks and re-invoke: resumes from the committed offset
        with no duplicates or gaps.

        Chunking is by exactly one of two measures. ``chunk_size`` is a
        fixed LSN width — right when LSNs are dense (synthetic streams,
        row-numbered logs). ``chunk_rows`` is EVENT MASS: boundaries come
        from the pending stream's own LSN quantiles (one approxQuantile
        pass), so each chunk carries ~chunk_rows events regardless of how
        sparse the LSN space is — the correct measure for real sources
        (Mongo ``t*2^32+i`` cluster times, byte-offset binlog positions,
        WAL LSNs) where fixed-width planning degenerates (see
        planner.SparseLsnSpace). Boundaries are plain LSNs, so resume
        semantics are identical: a killed run re-plans from the committed
        offset and the quantile re-estimate only moves UNCOMMITTED
        boundaries.

        Under MOR, buckets whose delta layer count reaches
        ``compact_threshold`` are compacted between chunks (bounding read
        amplification); ``compact_at_end=True`` leaves the table fully
        read-optimised when the replay finishes."""
        if (chunk_size is None) == (chunk_rows is None):
            raise ValueError("pass exactly one of chunk_size / chunk_rows")
        if source_hi is None:
            source_hi = changes.agg(F.max("lsn")).collect()[0][0]
        committed = self.committed_lsn()
        if chunk_rows is not None:
            plan = self._plan_by_rows(changes, committed, source_hi, chunk_rows)
        else:
            plan = plan_replay(source_hi, committed, chunk_size)
        out: list[ChunkStats] = []
        next_batch = self.target.snapshot().summary.get("batch_id", -1) + 1
        for i, (lo, hi) in enumerate(plan.ranges):
            chunk = changes.where((F.col("lsn") > lo) & (F.col("lsn") <= hi))
            out.append(
                self.apply_chunk(
                    chunk, lo, hi, batch_id=next_batch + i, defer_lineage=True
                )
            )
            self.maybe_compact()
        if compact_at_end:
            tc = time.monotonic()
            self.target.compact()
            _phase("compact_end", tc)
        self.flush_lineage()
        return out

    @staticmethod
    def _plan_by_rows(changes, committed, source_hi, chunk_rows):
        """Quantile-derived chunk boundaries over the pending stream."""
        if chunk_rows <= 0:
            raise ValueError("chunk_rows must be positive")
        if source_hi is None:
            return plan_replay(source_hi, committed, 1)  # empty-source path
        lo = -1 if committed is None else committed
        pending = changes.where(F.col("lsn") > F.lit(lo)).select("lsn")
        n = pending.count()
        if n == 0:
            # nothing pending: delegate for the up_to_date / error verdict
            return plan_replay(source_hi, committed, max(1, chunk_rows))
        k = -(-n // chunk_rows)  # ceil: number of chunks
        if k <= 1:
            return plan_replay_bounds([], committed, source_hi)
        probs = [i / k for i in range(1, k)]
        bounds = pending.approxQuantile("lsn", probs, min(0.01, 0.25 / k))
        return plan_replay_bounds([int(b) for b in bounds], committed, source_hi)

    def maybe_compact(self) -> None:
        """Compact any bucket whose delta layer count reached the
        threshold — called between replay chunks and per streaming epoch so
        MOR read amplification stays bounded under both drivers."""
        if self.compact_threshold is None:
            return
        snap = self.target.snapshot()
        hot = [
            int(b)
            for b, fs in snap.delta_files.items()
            if len(fs) >= self.compact_threshold
        ]
        if hot:
            tc = time.monotonic()
            self.target.compact(buckets=hot)
            _phase("compact_auto", tc)
