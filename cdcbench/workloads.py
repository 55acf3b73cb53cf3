"""The two workloads and the timed operations they share.

Every workload drives the engine through its public API only
(``CdcApplier``, ``LakeTable``) and records one span per call. The
operations are the same four in every workload — a chunk commit, a point
lookup batch, a changelog read and a full-scan aggregate — in a different
mix, so that each workload loads one layer heavily:

* ``bulk_replay``      — ``CdcApplier.replay`` of a stream in large chunks
  into a fresh lake, then ``LakeTable.compact``; a read probe follows each
  replay (closed loop, one caller).
* ``read_beside_write`` — small chunk writes keep merge-on-read delta
  layers on a preloaded table while one client reads between them
  (closed loop, one client).

Inputs come from ``cdc.generator.generate_changes(seed=...)`` and are
written to parquet before any timing starts; the engine only ever sees
the parquet.
"""

from __future__ import annotations

import os
import random
import shutil
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Any, Callable

from .spans import Tracer, wall_ms

BUCKETS = 16
SHUFFLE_PARTITIONS = 16  # a multiple of BUCKETS keeps the co-partitioned write
COMPACT_THRESHOLD = 16  # CdcApplier default, pinned so a change to it shows


@dataclass(frozen=True)
class Shape:
    """Input sizes of one workload (all event counts before redelivery)."""

    base_events: int  # preloaded before the timed window (0: empty lake)
    chunk_events: int  # events per timed chunk
    chunks: int  # chunks generated (upper bound on what a run applies)
    warmup_chunks: int  # chunks applied untimed before the window


SHAPES = {
    "bulk_replay": Shape(base_events=0, chunk_events=10_000, chunks=4, warmup_chunks=0),
    "read_beside_write": Shape(base_events=6_000, chunk_events=500, chunks=16,
                               warmup_chunks=2),
}
LOOKUP_KEYS = 20  # keys per lookup batch
# Spark task slots (local[N]); 0 is every CPU in the affinity mask. The
# bulk workload's chunk commits are mostly fixed cost at these sizes and
# took about as long on local[2] as on local[4]; two slots leave the JVM's
# GC and compiler threads, the Python workers and the driver a core of
# their own. The merge-on-read reads of read_beside_write fold 16 buckets
# in parallel and take about a quarter longer on two slots, more than the
# run-time budget holds.
SPARK_SLOTS = {"bulk_replay": 2, "read_beside_write": 0}


def generate_inputs(spark: Any, shape: Shape, seed: int, out_dir: str) -> None:
    """One stream of ``base + chunks`` events, written partitioned by
    ``part``: part 0 is the preloaded base, part i >= 1 is chunk i.
    Redelivered duplicates keep their original lsn, so they land in the
    same part as the original."""
    from pyspark.sql import functions as F

    from data_services_spark.cdc.generator import generate_changes

    n = shape.base_events + shape.chunks * shape.chunk_events
    df = generate_changes(
        spark, n, n_convs=max(1000, n // 100), max_turns=50, n_hot=4,
        hot_pct=20, delete_pct=5, dup_one_in=20, seed=seed, partitions=8,
    )
    part = F.when(F.col("lsn") < shape.base_events, F.lit(0)).otherwise(
        F.floor((F.col("lsn") - shape.base_events) / shape.chunk_events) + 1
    )
    df.withColumn("part", part.cast("int")).repartition("part").write.partitionBy(
        "part"
    ).parquet(out_dir)


class Bench:
    """State of one run: the session, the spans, the samples and the
    attempted/failed operation counts."""

    def __init__(self, spark: Any, tracer: Tracer, work: str, workload: str,
                 seed: int, seconds: float, trace: bool) -> None:
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.shape = SHAPES[workload]
        self.seconds = seconds
        self.trace = trace
        self.rng = random.Random(seed)
        self.inputs = os.path.join(work, "inputs")
        self.attempted = 0
        self.failed = 0
        self.correct = True
        self.samples: dict[str, list[float]] = {
            k: [] for k in ("freshness_ms", "commit_ms", "lookup_ms", "scan_ms",
                            "changelog_ms")
        }
        self.events = 0
        self.apply_ms = 0.0
        self.e2e_ms = 0.0
        self.setup: dict[str, list[float]] = {}
        self.lookup_checks: list[tuple[Any, list[dict], Any, int]] = []
        self.changelog_checks: list[tuple[Any, int, int, int]] = []
        self.lakes: list[Any] = []  # appliers whose final state is checked
        self.all_keys: list[dict] = []
        self.setup_done_ms = 0.0
        self.session_span: dict = {}
        self.process_start_ms = 0.0
        self.probe_events = 0

    @contextmanager
    def discarded(self) -> Any:
        """Run operations whose samples and counts are thrown away (the
        untimed warm-up)."""
        saved = (self.attempted, self.failed, self.events, self.apply_ms,
                 self.e2e_ms, {k: list(v) for k, v in self.samples.items()})
        try:
            yield
        finally:
            (self.attempted, self.failed, self.events, self.apply_ms,
             self.e2e_ms, self.samples) = saved
            self.lookup_checks.clear()
            self.changelog_checks.clear()

    # ------------------------------------------------------------- inputs
    def part_path(self, i: int) -> str:
        return os.path.join(self.inputs, f"part={i}")

    def read_part(self, i: int) -> Any:
        return self.spark.read.parquet(self.part_path(i))

    def part_keys(self, i: int) -> list[dict]:
        import pyarrow.parquet as pq

        t = pq.read_table(self.part_path(i), columns=["conv_id", "turn_idx"])
        keys = {
            (c, t_) for c, t_ in zip(t["conv_id"].to_pylist(), t["turn_idx"].to_pylist())
            if c is not None and t_ is not None and t_ >= 0
        }
        return [{"conv_id": c, "turn_idx": t_} for c, t_ in sorted(keys)]

    # ---------------------------------------------------------- the lake
    def bootstrap(self, name: str) -> Any:
        from data_services_spark.cdc.apply import CdcApplier

        root = os.path.join(self.work, name)
        shutil.rmtree(root, ignore_errors=True)
        with self.tracer.span("bootstrap") as sp:
            applier = CdcApplier.bootstrap(
                self.spark, root, bucket_count=BUCKETS,
                compact_threshold=COMPACT_THRESHOLD,
            )
        self.setup.setdefault("bootstrap_ms", []).append(wall_ms(sp))
        t = self.tracer
        t.wrap(applier, "replay")
        t.wrap(applier, "apply_chunk", _note_chunk)
        t.wrap(applier, "maybe_compact")
        for m in ("compact", "write_delta_files", "file_stats", "commit_delta"):
            t.wrap(applier.target, m)
        return applier

    def preload(self, applier: Any) -> None:
        """Apply the base part as one replay chunk, then compact it."""
        if not self.shape.base_events:
            return
        with self.tracer.span("preload") as sp:
            applier.replay(self.read_part(0), chunk_size=self.shape.base_events,
                           source_hi=self.shape.base_events - 1)
            applier.target.compact()
        self.setup.setdefault("preload_ms", []).append(wall_ms(sp))

    # ------------------------------------------------------ timed ops
    def _op(self, kind: str, fn: Callable[[], Any]) -> tuple[Any, dict | None]:
        self.attempted += 1
        try:
            with self.tracer.span(kind) as sp:
                out = fn()
        except Exception:
            self.failed += 1
            print(f"[cdcbench] {kind} failed:\n{traceback.format_exc()}", file=sys.stderr)
            return None, None
        return out, sp

    def chunk(self, applier: Any, part: int) -> None:
        """One streaming-sink step: ``apply_chunk`` with the epoch, then
        ``maybe_compact`` (``streaming/stream_apply.py`` call order)."""
        df = self.read_part(part)
        stats: dict[str, Any] = {}

        def step() -> None:
            t0 = self.tracer.now_ms()
            st = applier.apply_chunk(df, lo=-1, hi=None, batch_id=part, epoch=part)
            stats["apply_ms"] = self.tracer.now_ms() - t0
            stats["events"] = st.n_events + st.n_quarantined
            applier.maybe_compact()

        _, sp = self._op("chunk", step)
        if sp is None:
            return
        self.events += stats["events"]
        self.apply_ms += stats["apply_ms"]
        self.e2e_ms += wall_ms(sp)
        self.samples["commit_ms"].append(wall_ms(sp))
        # closed loop: a chunk falls due when it is issued
        self.samples["freshness_ms"].append(wall_ms(sp))

    def replay(self, applier: Any) -> None:
        """Replay the whole stream into ``applier`` in ``self.shape.chunks``
        chunks, then compact; per-chunk samples come from the spans
        inside."""
        df = self.spark.read.parquet(self.inputs).drop("part")
        events = self.shape.chunks * self.shape.chunk_events
        res, sp = self._op("bulk_replay", lambda: applier.replay(
            df, chunk_size=self.shape.chunk_events, source_hi=events - 1))
        if sp is None:
            return
        self.events += sum(s.n_events + s.n_quarantined for s in res)
        self.apply_ms += wall_ms(sp)
        inner = [s for s in self.tracer.spans[self.tracer.spans.index(sp):]
                 if s["name"] in ("apply_chunk", "maybe_compact")
                 and s["start_ms"] >= sp["start_ms"] and s["end_ms"] <= sp["end_ms"]]
        for a, m in zip(inner[0::2], inner[1::2]):
            self.samples["commit_ms"].append(m["end_ms"] - a["start_ms"])
            # a backfill's chunks are all due when the replay starts
            self.samples["freshness_ms"].append(m["end_ms"] - sp["start_ms"])
        _, csp = self._op("final_compact", lambda: applier.target.compact())
        if csp is not None:
            self.e2e_ms += wall_ms(sp) + wall_ms(csp)

    def lookup(self, applier: Any, keys: list[dict]) -> None:
        hi = applier.committed_lsn()
        out, sp = self._op("lookup", lambda: applier.target.lookup(keys).toArrow())
        if sp is None:
            return
        self.samples["lookup_ms"].append(wall_ms(sp))
        if self.trace:
            sp["attrs"]["depth"] = _delta_depth(applier.target)
        self.lookup_checks.append((applier, keys, out, hi))

    def changelog(self, applier: Any, from_id: int) -> None:
        to_id = applier.target.current_snapshot_id()
        out, sp = self._op(
            "changelog", lambda: applier.target.changes_between(from_id, to_id).toArrow())
        self.spark.catalog.clearCache()  # the diff persists its join
        if sp is None:
            return
        self.samples["changelog_ms"].append(wall_ms(sp))
        if self.trace:
            s0, s1 = applier.target.snapshot(from_id), applier.target.snapshot(to_id)
            sp["attrs"]["buckets_diffed"] = sum(
                1 for k in map(str, range(s1.bucket_count))
                if s0.bucket_files.get(k) != s1.bucket_files.get(k)
                or s0.delta_files.get(k) != s1.delta_files.get(k))
        self.changelog_checks.append((applier, from_id, to_id, out.num_rows))

    def scan(self, applier: Any) -> None:
        from pyspark.sql import functions as F

        def agg() -> Any:
            return applier.target.read().groupBy("role").agg(
                F.count("*"), F.sum(F.length("text")), F.max("lsn")).collect()

        if self.trace:
            depth = _delta_depth(applier.target)
        _, sp = self._op("scan", agg)
        if sp is None:
            return
        self.samples["scan_ms"].append(wall_ms(sp))
        if self.trace:
            sp["attrs"]["depth"] = depth

    def lookup_keys(self, recent: list[dict], base: list[dict]) -> list[dict]:
        """Distinct keys: half the batch from recently written keys (still
        in delta layers), half uniformly from the rest of the base."""
        pick = self.rng.sample(recent, min(LOOKUP_KEYS // 2, len(recent)))
        taken = {(k["conv_id"], k["turn_idx"]) for k in pick}
        rest = [k for k in base if (k["conv_id"], k["turn_idx"]) not in taken]
        pick += self.rng.sample(rest, min(LOOKUP_KEYS - len(pick), len(rest)))
        return pick


def _note_chunk(attrs: dict[str, Any], st: Any) -> None:
    attrs.update(events=st.n_events, quarantined=st.n_quarantined,
                 snapshot_id=st.snapshot_id, skipped=st.skipped)


def _delta_depth(table: Any) -> int:
    deltas = table.snapshot().delta_files
    return max((len(fs) for fs in deltas.values()), default=0)


def plan_count(seconds: float, per_unit_s: float) -> int:
    """How many units of a workload's fixed plan fit in ``seconds``, from
    a per-unit cost fixed in this file: every run of every commit does the
    same operations, so a faster commit finishes sooner instead of doing
    different work."""
    return max(1, round(seconds / per_unit_s))


# ------------------------------------------------------------------ workloads
BULK_REP_S = 12.0  # one replay + compaction + read probe, local[2]
BULK_SCANS = 3  # scans per read probe: a scan is cheap, and a median wants samples
BULK_LOOKUPS = 1  # lookup batches per read probe
RBW_CYCLE_S = 6.0  # one chunk, two lookups, a scan, half a changelog, local[4]


def bulk_replay(b: Bench) -> None:
    reps = plan_count(b.seconds, BULK_REP_S)
    # every replay starts from its own fresh lake: the bootstrap is the
    # set-up repeated in a run (one extra lake for the warm-up)
    lakes = [b.bootstrap(f"lake{i}") for i in range(reps + 1)]
    b.all_keys = b.part_keys(1)
    with b.tracer.span("warmup") as sp, b.discarded():
        # one whole untimed repetition: after a smaller one, the first
        # timed replay's chunks ran up to a third slower than the second's
        _bulk_rep(b, lakes[0])
    shutil.rmtree(os.path.dirname(lakes[0].target.path), ignore_errors=True)
    b.setup["warmup_ms"] = [wall_ms(sp)]
    b.setup_done_ms = b.tracer.now_ms()
    for applier in lakes[1:]:
        _bulk_rep(b, applier)
        b.lakes.append(applier)


def _bulk_rep(b: Bench, applier: Any) -> None:
    """One backfill: replay + final compaction, then a read probe of the
    result (scans, lookup batches, the changelog of the last chunk)."""
    b.replay(applier)
    appends = [s.snapshot_id for s in applier.target.snapshots()
               if s.operation == "delta-append"]
    for _ in range(BULK_SCANS):
        b.scan(applier)
    for _ in range(BULK_LOOKUPS):
        b.lookup(applier, b.lookup_keys(b.all_keys, b.all_keys))
    b.changelog(applier, appends[-2])


def read_beside_write(b: Bench) -> None:
    applier, base, part = _preloaded_and_warm(b)
    since = applier.target.current_snapshot_id()
    for cycle in range(plan_count(b.seconds, RBW_CYCLE_S)):
        b.chunk(applier, part)
        recent = b.part_keys(part)
        part += 1
        for _ in range(2):
            b.lookup(applier, b.lookup_keys(recent, base))
        b.scan(applier)
        if cycle % 2 == 1:
            # what changed over the last two chunks
            b.changelog(applier, since)
            since = applier.target.current_snapshot_id()
    b.lakes.append(applier)


def _preloaded_and_warm(b: Bench) -> tuple[Any, list[dict], int]:
    """Bootstrap, preload the base, then an untimed warm-up on the same
    lake: the first chunks and one of each read, so JIT and lazy set-up
    are paid before timing. The warm-up chunks are real epochs (the
    oracle covers them); their samples are discarded. Returns the lake,
    the base keys and the next part to apply."""
    applier = b.bootstrap("lake")
    b.preload(applier)
    base = b.part_keys(0)
    part = 1
    with b.tracer.span("warmup") as sp, b.discarded():
        from_id = applier.target.current_snapshot_id()
        for _ in range(b.shape.warmup_chunks):
            b.chunk(applier, part)
            part += 1
        b.lookup(applier, b.lookup_keys(b.part_keys(part - 1), base))
        b.changelog(applier, from_id)
        b.scan(applier)
    b.setup["warmup_ms"] = [wall_ms(sp)]
    b.setup_done_ms = b.tracer.now_ms()
    return applier, base, part


WORKLOADS: dict[str, Callable[[Bench], None]] = {
    "bulk_replay": bulk_replay,
    "read_beside_write": read_beside_write,
}
