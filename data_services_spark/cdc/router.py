"""Multi-table CDC routing: ONE change stream, MANY independent lake tables.

Real binlog tails are rarely single-table: a Debezium connector captures a
whole database (topic-per-table, or one topic with ``source.table`` inside
each envelope — ``sources/envelopes.py`` surfaces it), and Paimon's
database-sync "combined mode" lands that multiplexed stream into one table
per source table. The reference has the same shape as a fleet: one cron
process per feed, each with its own watermark file (``FAIMMS/REALTIME/
faimms.py`` vs ``ANMN/NRS_AIMS/REALTIME/anmn_nrs_aims.py`` — same loop,
different table), which is exactly what the router collapses into one job.

Design (Spark-first, scale-first):

* **Demultiplex = predicate, not data movement.** Each table's slice is
  ``changes.where(col(table_col) == name)`` — a pushed-down parquet filter,
  no shuffle, no driver-side split. For T tables over one un-partitioned
  archive that is T pruned scans; ``stage()`` cuts it to one pass total by
  rewriting the stream ``partitionBy(table_col)`` once, after which every
  per-table replay reads ONLY its own bytes via partition pruning (the
  Kafka topic-per-table layout, materialized).
* **Per-table offsets, independent resume.** Each target is a full
  ``CdcApplier`` universe (target + lineage + quarantine + metrics under
  ``root/<name>/``) whose offsets ride its own snapshot summary. Tables
  progress independently: a poison batch quarantines in ITS table's lane
  and stalls nothing else; a killed run resumes each table from each
  table's own committed LSN. There is no global coordinator state — the
  router object is stateless between runs (``load()`` re-derives
  everything from the tables).
* **Heterogeneous schemas.** The multiplexed stream carries the UNION of
  all tables' columns (absent columns null, the Debezium-combined shape).
  Each slice projects to the envelope columns + the target's own schema
  columns before applying, so table B's columns never pollute table A.
  Additive evolution stays available per table via ``extra_cols`` —
  an explicit allow-list, because in a multiplexed stream "a column I
  don't know" usually belongs to someone else, the opposite of the
  single-table default.
* **Scale story.** Per chunk per table the work is the single-table apply
  loop unchanged (one scan, map-side-combined dedup, O(changed keys) MOR
  delta). The router adds zero exchanges. At 10^10 events the staged
  partitionBy write is one extra linear pass (amortized across T tables'
  replays); tables are independent jobs, so a scheduler can run them
  concurrently on separate executor pools without any coordination beyond
  each table's own optimistic commit.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .apply import CdcApplier, ChunkStats

ENVELOPE_COLS = ("lsn", "op", "ts")


@dataclass
class TableSpec:
    """One routed table: its schema and merge contract."""

    schema: T.StructType
    merge_keys: list[str]
    order_cols: list[str] | None = None
    bucket_count: int = 16
    props: dict[str, Any] = field(default_factory=dict)
    extra_cols: list[str] = field(default_factory=list)


class UnroutedTables(Exception):
    """Strict replay found stream rows addressed to no configured table."""


class CdcRouter:
    def __init__(
        self,
        spark: SparkSession,
        appliers: dict[str, CdcApplier],
        table_col: str = "_table",
        extra_cols: dict[str, list[str]] | None = None,
    ):
        self.spark = spark
        self.appliers = appliers
        self.table_col = table_col
        self.extra_cols = extra_cols or {}

    # ---------------------------------------------------------- lifecycle
    @classmethod
    def bootstrap(
        cls,
        spark: SparkSession,
        root: str,
        specs: dict[str, TableSpec],
        table_col: str = "_table",
        **applier_kwargs: Any,
    ) -> "CdcRouter":
        """Create one ``CdcApplier`` universe per spec under
        ``root/<name>/``. ``applier_kwargs`` (with_lineage,
        compact_threshold, ...) apply to every table."""
        appliers = {
            name: CdcApplier.bootstrap_custom(
                spark,
                os.path.join(root, name),
                spec.schema,
                spec.merge_keys,
                spec.order_cols,
                bucket_count=spec.bucket_count,
                target_props=spec.props or None,
                **applier_kwargs,
            )
            for name, spec in specs.items()
        }
        return cls(
            spark, appliers, table_col,
            {n: list(s.extra_cols) for n, s in specs.items() if s.extra_cols},
        )

    @classmethod
    def load(
        cls,
        spark: SparkSession,
        root: str,
        names: list[str] | None = None,
        table_col: str = "_table",
        extra_cols: dict[str, list[str]] | None = None,
        **applier_kwargs: Any,
    ) -> "CdcRouter":
        """Reattach to an existing routed root. ``names=None`` discovers
        tables by listing ``root`` (any subdir holding a ``target`` lake)."""
        from ..lake.table import LakeTable

        if names is None:
            names = sorted(
                d for d in os.listdir(root)
                if LakeTable.exists(os.path.join(root, d, "target"))
            )
        appliers = {
            n: CdcApplier.load(
                spark, os.path.join(root, n), table_name="target",
                **applier_kwargs,
            )
            for n in names
        }
        return cls(spark, appliers, table_col, extra_cols)

    # ------------------------------------------------------------ routing
    def _slice(self, changes: DataFrame, name: str) -> DataFrame:
        """One table's slice: pushed-down equality filter + projection to
        envelope cols ∪ target schema ∪ explicit extra_cols."""
        applier = self.appliers[name]
        snap_cols = {f.name for f in applier.target.snapshot().schema.fields}
        keep = [
            c for c in changes.columns
            if c != self.table_col
            and (
                c in snap_cols
                or c in ENVELOPE_COLS
                or c in self.extra_cols.get(name, ())
            )
        ]
        return changes.where(F.col(self.table_col) == name).select(*keep)

    def stage(self, changes: DataFrame, stage_dir: str) -> DataFrame:
        """One linear pass that rewrites the multiplexed stream
        ``partitionBy(table_col)`` — the materialized topic-per-table
        layout. Returns the staged stream (reading it back per table is a
        partition-pruned scan of only that table's bytes). T per-table
        replays over the staged dir scan the stream once TOTAL instead of
        T pruned passes over the combined archive."""
        (
            changes.write.mode("overwrite")
            .partitionBy(self.table_col)
            .parquet(stage_dir)
        )
        return self.spark.read.parquet(stage_dir)

    def staged_tables(self, stage_dir: str) -> list[str]:
        """Table names present in a staged dir — directory listing only
        (no job), the free unrouted-audit a partitioned layout gives."""
        pre = f"{self.table_col}="
        return sorted(
            d[len(pre):] for d in os.listdir(stage_dir) if d.startswith(pre)
        )

    def unrouted(self, changes: DataFrame) -> DataFrame:
        """Rows addressed to no configured table (audit scan; in the staged
        layout prefer ``staged_tables`` which is listing-only)."""
        return changes.where(
            ~F.col(self.table_col).isin(*self.appliers.keys())
            | F.col(self.table_col).isNull()
        )

    # ------------------------------------------------------------- replay
    def replay(
        self,
        changes: DataFrame,
        chunk_size: int | None = None,
        chunk_rows: int | None = None,
        strict: bool = False,
        compact_at_end: bool = False,
    ) -> dict[str, list[ChunkStats]]:
        """Replay every table's pending slice. Each table chunks, commits
        offsets, quarantines, and resumes on ITS OWN lake — killing this
        loop mid-table and re-invoking resumes exactly where each table's
        committed LSN says, with no cross-table coordination.

        ``strict=True`` first audits for rows addressed to no configured
        table and raises ``UnroutedTables`` (one extra counting pass —
        with a staged dir, ``staged_tables`` answers it from the listing
        instead)."""
        if strict:
            stray = (
                self.unrouted(changes)
                .groupBy(self.table_col).count().collect()
            )
            if stray:
                raise UnroutedTables(
                    {r[self.table_col]: r["count"] for r in stray}
                )
        out: dict[str, list[ChunkStats]] = {}
        for name, applier in self.appliers.items():
            out[name] = applier.replay(
                self._slice(changes, name),
                chunk_size=chunk_size,
                chunk_rows=chunk_rows,
                compact_at_end=compact_at_end,
            )
        return out

    # ----------------------------------------------------------- streaming
    def start_apply_stream(
        self,
        changes_stream: DataFrame,
        checkpoint_dir: str,
        trigger_seconds: int | None = None,
        transform=None,
    ):
        """Database-sync in streaming mode: one ``readStream`` of the
        multiplexed envelope stream drives EVERY table via
        ``foreachBatch`` — per micro-batch, each table's slice applies as
        that table's epoch. Exactly-once is per table: each target
        records the epoch in its own snapshot summary, so a crash midway
        through the table loop (some tables committed epoch N, some not)
        heals on redelivery — committed tables epoch-skip, the rest
        apply, none double-applies. This is the streaming analogue of
        ``replay()``'s independent per-table offsets, with the streaming
        checkpoint holding only source progress (table positions live in
        the tables, same as batch).

        ``transform`` runs on the whole multiplexed batch before routing
        (e.g. an envelope decode from ``sources/envelopes.py``); it must
        be a pure projection for the epoch skip to stay valid."""

        def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
            if transform is not None:
                batch_df = transform(batch_df)
            for name, applier in self.appliers.items():
                applier.apply_chunk(
                    self._slice(batch_df, name),
                    lo=-1, hi=None, batch_id=epoch_id, epoch=epoch_id,
                )
                applier.maybe_compact()

        writer = (
            changes_stream.writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("update")
        )
        if trigger_seconds:
            writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
        return writer.start()

    # ------------------------------------------------------------ inspect
    def describe(self) -> dict[str, dict[str, Any]]:
        """Per-table committed offsets + row/file shape — the fleet
        dashboard the reference keeps as one pickle per cron job
        (``lib/python/pickle_db.py``), here one atomic summary per table."""
        out = {}
        for name, applier in self.appliers.items():
            d = applier.target.describe()
            out[name] = {
                k: d[k]
                for k in (
                    "committed_lsn", "snapshot_id", "batch_id",
                    "merge_engine", "n_base_files", "n_delta_files",
                )
            }
        return out
