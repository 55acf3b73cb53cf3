"""Snapshot-committed parquet table format ("mini-Iceberg").

The execution sandbox ships no Iceberg/Delta jars, so the engine implements
the table-format contract it needs itself, over plain parquet + atomic
filesystem renames. The contract (modeled on Apache Iceberg's public spec):

* **Atomic snapshot commits** — every write produces an immutable snapshot
  manifest (JSON) listing the table's data files per hash-bucket; a CURRENT
  pointer is flipped by an atomic ``os.replace``. Readers never see partial
  writes. Reference precedent for the commit idiom: the reference stages
  output then atomically ``mv``s a manifest of <=4096 paths into the
  incoming dir (``FAIMMS/REALTIME/faimms.py:356-369``).
* **Snapshot summary carries source offsets** — the CDC apply loop stores
  its checkpoint (last applied LSN per source partition) in the summary of
  the same commit that wrote the data, which is the exactly-once rule
  (reference analogue: checkpoint saved only after the move succeeds,
  ``faimms.py:218-225``; watermark derived from committed sink state,
  ``ardc_nrt/lib/common/pickle_db.py:64-85``).
* **Time travel** — ``read(snapshot_id=...)`` (S3-object-version analogue:
  ``lib/common/s3.sh:55-80``).
* **Additive schema evolution** — new columns appear in newer data files;
  reads use parquet ``mergeSchema`` so old files surface NULLs (reference
  analogue: dual versioned layouts, ``MHL/process_MHLwave_from_txt.py:44-78``).
* **Hash-bucket layout** — data files are grouped by
  ``pmod(xxhash64(bucket_keys...), bucket_count)``, the engine's analogue of
  Iceberg's ``bucket(N, conv_id)`` partition spec. A merge only rewrites the
  buckets its change batch touches; untouched buckets are carried forward by
  reference (metadata only) — this is what makes copy-on-write upserts scale:
  at 100 TB with 4096 buckets, a batch touching 200 buckets rewrites ~5% of
  the table and zero-copies the rest.
* **Merge-on-read delta layers (Iceberg v2 equality-delete analogue)** —
  ``append_delta`` commits a layer of pre-deduped *winner* rows (one row per
  merge key, carrying an ``op`` column where ``'D'`` is a key-level delete
  tombstone) without touching base files. ``read`` resolves base ∪ deltas by
  last-writer-wins over the table's ``order_cols`` — exactly how
  production CDC sinks (Flink → Iceberg upsert mode) avoid the
  O(table_size × batches) cost of copy-on-write: per batch they write only
  the changed keys, and ``compact`` amortises the rewrite. Copy-on-write
  (``replace_buckets``) remains available for read-heavy tables.

Layout on disk::

    <root>/_lake/v<000000N>.json   immutable snapshot manifests
    <root>/_lake/CURRENT           text file: latest snapshot id (atomic replace)
    <root>/data/c<N>-<token>/bucket=<K>/part-*.parquet

Everything here is ordinary driver-side metadata handling (tiny JSON) plus
declarative DataFrame writes — no RDDs, no per-row Python.
"""

from __future__ import annotations

import datetime
import fcntl
import functools
import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_LAKE_DIR = "_lake"
_CURRENT = "CURRENT"
_DATA_DIR = "data"
_ID_HWM = ".id_hwm"  # monotonic snapshot-id high-watermark (never reused)


class TableNotFound(Exception):
    pass


class CommitConflict(Exception):
    """Another writer committed the same snapshot id first (optimistic
    concurrency, like Iceberg's commit conflict). Retry by re-reading
    CURRENT and re-planning."""


def retry_commit(attempt, retries: int = 10, base_sleep: float = 0.05,
                 max_sleep: float = 2.0):
    """Bounded exponential backoff around an optimistic commit attempt
    (reference: 10-try exponential retry policy,
    ``lib/python/aims_realtime_util.py:191-196``).

    ``attempt`` must RE-READ the current snapshot and re-derive its
    carried-forward metadata each call — only commutative commits (appends,
    metadata merges) belong here. CDC apply deliberately does NOT use it:
    two appliers racing one table is a singleton violation where failing
    fast is correct, not a transient to absorb."""
    import random
    import time as _time

    last: CommitConflict | None = None
    for i in range(retries):
        try:
            return attempt()
        except CommitConflict as e:
            last = e
            if i == retries - 1:
                break
            # full jitter: avoids lockstep re-collision of N racing writers
            _time.sleep(random.uniform(0, min(base_sleep * (2 ** i), max_sleep)))
    raise last  # type: ignore[misc]


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    operation: str
    schema_json: dict[str, Any]
    bucket_count: int
    bucket_keys: list[str]
    bucket_files: dict[str, list[str]]  # bucket -> table-relative file paths
    summary: dict[str, Any] = field(default_factory=dict)
    # merge-on-read layers: bucket -> ordered winner-file paths (Iceberg v2
    # equality-delete analogue); resolved lazily at read time by LWW
    delta_files: dict[str, list[str]] = field(default_factory=dict)
    # table properties, e.g. merge_keys / order_cols for MOR resolution
    props: dict[str, Any] = field(default_factory=dict)
    # manifest-level data skipping (Iceberg column_sizes/lower+upper bounds
    # analogue): file -> {col: [min, max]} for the table's `stats_cols`
    # prop, harvested ONCE from parquet footers at commit time so pruned
    # reads never open a footer (timestamps stored as ISO strings)
    file_col_stats: dict[str, dict[str, list]] = field(default_factory=dict)
    # wall-clock commit instant (epoch seconds), stamped at manifest-write
    # time — the resolution key for TIMESTAMP AS OF reads; None on
    # manifests written before the field existed
    committed_at: float | None = None

    def to_json(self) -> dict[str, Any]:
        return {
            "snapshot_id": self.snapshot_id,
            "parent_id": self.parent_id,
            "operation": self.operation,
            "schema": self.schema_json,
            "bucket_count": self.bucket_count,
            "bucket_keys": self.bucket_keys,
            "bucket_files": self.bucket_files,
            "summary": self.summary,
            "delta_files": self.delta_files,
            "props": self.props,
            "file_col_stats": self.file_col_stats,
            "committed_at": self.committed_at,
        }

    @staticmethod
    def from_json(d: dict[str, Any]) -> "Snapshot":
        return Snapshot(
            snapshot_id=d["snapshot_id"],
            parent_id=d.get("parent_id"),
            operation=d["operation"],
            schema_json=d["schema"],
            bucket_count=d["bucket_count"],
            bucket_keys=d["bucket_keys"],
            bucket_files=d["bucket_files"],
            summary=d.get("summary", {}),
            delta_files=d.get("delta_files", {}),
            props=d.get("props", {}),
            file_col_stats=d.get("file_col_stats", {}),
            committed_at=d.get("committed_at"),
        )

    @property
    def schema(self) -> T.StructType:
        return T.StructType.fromJson(self.schema_json)

    def all_files(self) -> list[str]:
        return [f for files in self.bucket_files.values() for f in files] + [
            f for files in self.delta_files.values() for f in files
        ]

    def delta_buckets(self) -> list[int]:
        return sorted(int(b) for b, fs in self.delta_files.items() if fs)

    @property
    def bucket_fn(self) -> str:
        # tables created before the murmur3 default carry no prop -> xxhash64
        return self.props.get("bucket_fn", "xxhash64")


def _stat_json(v: Any) -> Any:
    """Normalize a footer statistic (or a user-supplied bound) to its
    JSON-stable form so manifest values and pruning bounds compare with
    consistent types: timestamps -> ISO strings (lexicographic order ==
    chronological order for a fixed format), bytes -> str, numbers as-is."""
    import datetime as _dt

    if isinstance(v, _dt.datetime):
        return v.isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    return v


def _stats_exclude(snap: "Snapshot", rel: str, prune: dict[str, tuple]) -> bool:
    """True iff the manifest stats PROVE the file cannot contain a row in
    every predicate's range. Absent stats (file, column, or unusable
    footer) keep the file — pruning is an optimization, never a filter."""
    st = snap.file_col_stats.get(rel)
    if not st:
        return False
    for c, (lo, hi) in prune.items():
        bounds = st.get(c)
        if bounds is None:
            continue
        fmn, fmx = bounds
        if hi is not None and fmn > _stat_json(hi):
            return True
        if lo is not None and fmx < _stat_json(lo):
            return True
    return False


def _bucket_expr(
    bucket_keys: list[str], bucket_count: int, fn: str = "murmur3"
) -> F.Column:
    """Stable hash bucket id for a row — Iceberg ``bucket(N, keys)`` analogue.

    ``murmur3`` (default for new tables) is F.hash — the SAME hash family
    Spark's ``hashpartitioning`` uses (Murmur3, seed 42). That identity is
    load-bearing: an aggregation keyed on the bucket keys leaves its output
    partitions containing whole buckets (pmod(h, k*N) determines
    pmod(h, N)), so the bucket-clustered write after LWW dedup needs NO
    second shuffle. ``xxhash64`` kept for tables created before this.
    """
    cols = [F.col(k) for k in bucket_keys]
    h = F.hash(*cols) if fn == "murmur3" else F.xxhash64(*cols)
    return F.pmod(h, F.lit(bucket_count)).cast("int")


# ---------------------------------------------------------------------------
# Partial-update (patch) merge engine — hidden per-column writer ranks.
#
# merge_engine='partial_update' tables resolve each payload column to the
# value of its LATEST WRITER (full writes write every column, patches only
# their non-null ones), so exact out-of-order resolution must remember when
# each column was last written — per row, per column. That state rides a
# hidden struct column ``_wr`` (one (order_cols...) rank struct per payload
# column; NULL = this row never wrote the column), populated by the apply
# path and preserved through compaction. Paimon's per-field sequence
# groups are the same answer to the same problem.
# ---------------------------------------------------------------------------

_WR_COL = "_wr"


def _patch_payload_cols(
    schema: T.StructType, keys: list[str], order: list[str]
) -> list[str]:
    return [
        f.name for f in schema.fields
        if f.name not in keys and f.name not in order
        and f.name not in ("op", _WR_COL)
    ]


def _with_writer_ranks(
    schema: T.StructType, props: dict, bucket_keys: list[str] | None = None
) -> T.StructType:
    if any(f.name == _WR_COL for f in schema.fields):
        return schema
    keys = list(props.get("merge_keys") or bucket_keys or [])
    order = list(props.get("order_cols") or [])
    if not order:
        raise ValueError("merge_engine='partial_update' requires order_cols")
    types = {f.name: f.dataType for f in schema.fields}
    missing = [c for c in keys + order if c not in types]
    if missing:
        raise ValueError(f"partial_update key/order columns not in schema: {missing}")
    payload = _patch_payload_cols(schema, keys, order)
    if not payload:
        raise ValueError("partial_update table has no payload columns to patch")
    rank_t = T.StructType([T.StructField(o, types[o], True) for o in order])
    wr = T.StructType([T.StructField(c, rank_t, True) for c in payload])
    return T.StructType(list(schema.fields) + [T.StructField(_WR_COL, wr, True)])


def _patch_fold(
    union: DataFrame,
    keys: list[str],
    order: list[str],
    payload: list[str],
    keep_tombstones: bool,
) -> DataFrame:
    """Resolve a partial-update table's base+delta union to one row per
    key — the engine-side twin of ``cdc.dedup.partial_update_merge``, with
    per-column writer ranks read from ``_wr`` instead of each row's own
    rank (a compacted row's columns may have been written at different
    times). ONE aggregation, no window: a full write stamps every
    column's ``_wr`` at its own rank, so older patches lose every
    per-column max automatically and the latest-U/D horizon never
    materializes. Output rows carry the folded ``_wr`` (so compaction
    preserves exactness) and are stamped at the creating full write.

    With ``keep_tombstones`` (the compaction read), rows that must stay
    individually resolvable pass through unfolded: patches newer than a
    death, and patches whose key has no full write yet — a LATE full
    write (older event time, later arrival) can still land, and those
    patches must then apply on top of it."""
    rank = F.struct(*[F.col(o) for o in order])
    op = F.coalesce(F.col("op"), F.lit("U"))
    aggs = [
        F.max(F.when(op.isin("U", "D"),
                     F.struct(rank.alias("r"), op.alias("o")))).alias("_ud"),
    ] + [
        F.max(F.when(F.col(f"{_WR_COL}.{c}").isNotNull(),
                     F.struct(F.col(f"{_WR_COL}.{c}").alias("r"),
                              F.col(c).alias("v")))).alias(f"_m_{c}")
        for c in payload
    ]
    g = union.groupBy(*keys).agg(*aggs)
    alive = F.col("_ud.o") == "U"
    folded = g.where(F.col("_ud").isNotNull()).select(
        *keys,
        *[F.when(alive, F.col(f"_m_{c}.v")).alias(c) for c in payload],
        *[F.col(f"_ud.r.{o}").alias(o) for o in order],
        F.col("_ud.o").alias("op"),
        F.when(
            alive,
            F.struct(*[F.col(f"_m_{c}.r").alias(c) for c in payload]),
        ).alias(_WR_COL),
    )
    if not keep_tombstones:
        return folded.where(F.col("op") != "D")
    horizon = g.select(*keys, "_ud")
    pats = (
        union.where(F.col("op") == "P")
        .join(horizon, keys, "inner")
        .where(
            F.col("_ud").isNull()
            | ((F.col("_ud.o") == "D") & (rank > F.col("_ud.r")))
        )
        .select(*folded.columns)
    )
    return folded.unionByName(pats)


# ---------------------------------------------------------------------------
# Aggregation merge engine — per-column aggregate folds (Paimon
# ``aggregation`` parity). merge_engine='aggregation' tables resolve each
# payload column by a declared merge FUNCTION (props['agg_functions']:
# sum / min / max / bool_or / bool_and / last_non_null / first_non_null;
# unlisted columns default to last_non_null) over every contributing event —
# the running-totals table maintained by the change stream itself. Every
# function is commutative + associative over its carried state, so chunk
# pre-folds, compaction folds, and the read fold compose exactly under any
# arrival order; last/first_non_null carry their write rank in the same
# hidden ``_wr`` struct partial_update uses (only those columns get a
# field). Deletes are REJECTED (Paimon parity): an aggregate cannot retract
# a contribution exactly under out-of-order redelivery, so the apply path
# quarantines op='D' instead of corrupting totals silently.
# ---------------------------------------------------------------------------


def _agg_fns(snap: "Snapshot") -> dict[str, str]:
    """payload column → merge function for an aggregation table."""
    keys = list(snap.props.get("merge_keys", snap.bucket_keys))
    order = list(snap.props.get("order_cols") or [])
    payload = _patch_payload_cols(snap.schema, keys, order)
    spec = snap.props.get("agg_functions") or {}
    return {c: spec.get(c, "last_non_null") for c in payload}


def _with_agg_ranks(
    schema: T.StructType, props: dict, bucket_keys: list[str] | None = None
) -> T.StructType:
    """Validate an aggregation table's function spec at create() time and
    add the hidden ``_wr`` rank struct for the positional functions."""
    from ..cdc.dedup import AGG_FUNCTIONS, RANKED_AGG_FUNCTIONS

    keys = list(props.get("merge_keys") or bucket_keys or [])
    order = list(props.get("order_cols") or [])
    if not order:
        raise ValueError("merge_engine='aggregation' requires order_cols")
    types = {f.name: f.dataType for f in schema.fields}
    missing = [c for c in keys + order if c not in types]
    if missing:
        raise ValueError(f"aggregation key/order columns not in schema: {missing}")
    payload = _patch_payload_cols(schema, keys, order)
    if not payload:
        raise ValueError("aggregation table has no payload columns to merge")
    spec = props.get("agg_functions") or {}
    bad = {c: f for c, f in spec.items() if f not in AGG_FUNCTIONS}
    if bad:
        raise ValueError(
            f"unknown aggregation functions {bad}; each must be one of "
            f"{AGG_FUNCTIONS}"
        )
    unknown = [c for c in spec if c not in payload]
    if unknown:
        raise ValueError(
            f"agg_functions name non-payload columns {unknown} "
            f"(payload: {payload})"
        )
    ranked = [
        c for c in payload
        if spec.get(c, "last_non_null") in RANKED_AGG_FUNCTIONS
    ]
    if not ranked or any(f.name == _WR_COL for f in schema.fields):
        return schema
    rank_t = T.StructType([T.StructField(o, types[o], True) for o in order])
    wr = T.StructType([T.StructField(c, rank_t, True) for c in ranked])
    return T.StructType(list(schema.fields) + [T.StructField(_WR_COL, wr, True)])


def _agg_fold(
    union: DataFrame,
    keys: list[str],
    order: list[str],
    payload: list[str],
    fns: dict[str, str],
    keep_internal: bool,
) -> DataFrame:
    """Resolve an aggregation table's rows (raw events, chunk pre-folds,
    compacted partials — all the same shape) to one row per key: ONE
    aggregation, every function map-side combinable. Positional functions
    read their per-column write rank from ``_wr`` (a folded row's columns
    were written at different times); plain functions fold the stored
    partial directly (a folded row's ``sum`` column IS the partial sum —
    that closure is what makes compaction exact). Output order columns
    stamp the latest contribution. ``keep_internal`` keeps the folded
    ``_wr`` + an op='U' marker so maintenance rewrites stay re-mergeable.
    """
    from ..cdc.dedup import RANKED_AGG_FUNCTIONS

    rank = F.struct(*[F.col(o) for o in order])
    ranked = [c for c in payload if fns[c] in RANKED_AGG_FUNCTIONS]
    aggs = [F.max(rank).alias("_ord")]
    for c in payload:
        fn = fns[c]
        if fn in RANKED_AGG_FUNCTIONS:
            pair = F.when(
                F.col(f"{_WR_COL}.{c}").isNotNull(),
                F.struct(F.col(f"{_WR_COL}.{c}").alias("r"), F.col(c).alias("v")),
            )
            agg = F.max(pair) if fn == "last_non_null" else F.min(pair)
            aggs.append(agg.alias(f"_m_{c}"))
        else:
            aggs.append(getattr(F, fn)(F.col(c)).alias(c))
    g = union.groupBy(*keys).agg(*aggs)
    value_cols = [
        F.col(f"_m_{c}.v").alias(c) if c in ranked else F.col(c)
        for c in payload
    ]
    order_cols = [F.col(f"_ord.{o}").alias(o) for o in order]
    if not keep_internal:
        return g.select(*keys, *value_cols, *order_cols)
    internal = [F.lit("U").alias("op")]
    if ranked:
        internal.insert(
            0,
            F.struct(*[F.col(f"_m_{c}.r").alias(c) for c in ranked]).alias(_WR_COL),
        )
    return g.select(*keys, *value_cols, *order_cols, *internal)


def _murmur3_int(v: int, seed: int = 42) -> int:
    """Spark's Murmur3_x86_32 hash of a 32-bit int (seed 42) — the exact
    function ``df.repartition(n, col)`` drives partition assignment with
    (verified bit-for-bit against ``F.hash`` in tests)."""
    def rotl(x: int, r: int) -> int:
        return ((x << r) | ((x & 0xFFFFFFFF) >> (32 - r))) & 0xFFFFFFFF

    k1 = ((v & 0xFFFFFFFF) * 0xCC9E2D51) & 0xFFFFFFFF
    k1 = (rotl(k1, 15) * 0x1B873593) & 0xFFFFFFFF
    h1 = seed ^ k1
    h1 = (rotl(h1, 13) * 5 + 0xE6546B64) & 0xFFFFFFFF
    h1 ^= 4
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & 0xFFFFFFFF
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & 0xFFFFFFFF
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


def _row_bucket_fn(snap: "Snapshot"):
    """Driver-side bucket id of a row dict, bit-identical to
    :func:`_bucket_expr`: a 1-bucket table is bucket 0; otherwise the
    table must bucket by ONE int key under murmur3, where Spark's
    ``pmod(hash(k), n)`` is ``_murmur3_int(k) % n`` (a NULL key hashes to
    the seed, 42). Other key shapes raise ``ValueError``."""
    n = snap.bucket_count
    if n == 1:
        return lambda row: 0
    keys = snap.bucket_keys
    if (
        snap.bucket_fn != "murmur3"
        or len(keys) != 1
        or not isinstance(snap.schema[keys[0]].dataType, T.IntegerType)
    ):
        raise ValueError(
            f"driver-side bucketing needs one int bucket key under murmur3 "
            f"or a 1-bucket table; this table buckets {n} ways by {keys} "
            f"({snap.bucket_fn})"
        )
    k = keys[0]
    return lambda row: (42 if row[k] is None else _murmur3_int(row[k])) % n


def _arrow_column(f: T.StructField, arrow_type: Any, values: list[Any]) -> Any:
    """One Arrow column of ``values`` under Spark field ``f``. Timestamps
    go through Spark's own ``TimestampType.toInternal`` (a naive
    ``datetime`` is process-local time, as in ``createDataFrame``)."""
    import pyarrow as pa

    if not f.nullable and any(v is None for v in values):
        raise ValueError(f"NULL in non-nullable column {f.name}")
    if isinstance(f.dataType, T.TimestampType):
        values = [f.dataType.toInternal(v) for v in values]
    return pa.array(values, type=arrow_type)


@functools.lru_cache(maxsize=32)
def _partition_preimages(n: int) -> tuple[int, ...]:
    """preimages[p] = smallest non-negative int whose Spark hash lands in
    shuffle partition p of n. Repartitioning n distinct keys into n
    partitions by hash is balls-in-bins — the fullest task carries 3-4
    keys while ~1/e of the slots sit empty, a silent tail-skew tax on
    every bucketed write at high parallelism. Routing through the
    preimage (bucket b → literal preimages[b] → hash → partition b) makes
    the placement EXACT: one bucket per task, no empty slots. Driver cost
    is O(n ln n) int hashes, cached per n."""
    out: list[int | None] = [None] * n
    found = 0
    i = 0
    while found < n:
        p = _murmur3_int(i) % n
        if out[p] is None:
            out[p] = i
            found += 1
        i += 1
    return tuple(out)  # type: ignore[arg-type]


def _exact_partition_salt(idx_expr: "F.Column", n: int) -> "F.Column":
    """Column mapping a 0..n-1 partition index to its hash preimage, so
    ``repartition(n, salt)`` places index i exactly in partition i."""
    pre = _partition_preimages(n)
    arr = F.array(*[F.lit(int(x)).cast("int") for x in pre])
    return F.element_at(arr, (F.pmod(idx_expr, F.lit(n)) + 1).cast("int"))


def _pin_portable_write_conf(spark: SparkSession) -> None:
    """Pin the session confs the lake format's correctness depends on,
    so the engine works under ANY caller's SparkSession — not just the
    one built by :mod:`data_services_spark.session`.

    ``spark.sql.parquet.outputTimestampType`` defaults to legacy INT96:
    under that default (a) parquet footers carry no usable timestamp
    min/max stats, silently disabling manifest-level data skipping
    (:meth:`LakeTable.file_stats`), and (b) pyarrow reads INT96 back as
    ``timestamp[ns]``, which the zero-shuffle local compaction would echo
    out as TIMESTAMP(NANOS) — a physical type Spark's vectorized reader
    refuses. Both are runtime-settable SQLConfs, so pinning here at
    table-handle construction makes every subsequent engine write
    portable regardless of how the session was built."""
    try:
        if spark.conf.get("spark.sql.parquet.outputTimestampType") != "TIMESTAMP_MICROS":
            spark.conf.set(
                "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
            )
    except Exception:
        # conf API unavailable (e.g. connect-mode restrictions): the
        # Arrow-side micros cast in the local rewrite still guarantees
        # compacted files are portable.
        pass


class LakeTable:
    """A snapshot-versioned, hash-bucketed parquet table."""

    def __init__(self, spark: SparkSession, path: str, branch: str | None = None):
        """``branch`` opens the table ON a named branch (see
        :meth:`create_branch`): reads resolve at the branch head and every
        commit verb advances the branch ref instead of main's ``CURRENT``.
        The snapshot DAG is shared — a branch is one extra pointer file,
        zero data copies (Iceberg/Paimon branch refs)."""
        self.spark = spark
        _pin_portable_write_conf(spark)
        self.path = os.path.abspath(path)
        self._lake = os.path.join(self.path, _LAKE_DIR)
        self.branch = branch
        self._current_file = _CURRENT if branch is None else f"BRANCH-{branch}"
        if not os.path.exists(os.path.join(self._lake, _CURRENT)):
            raise TableNotFound(self.path)
        if branch is not None and not os.path.exists(
            os.path.join(self._lake, self._current_file)
        ):
            raise ValueError(
                f"no branch {branch!r} on table {self.path} "
                f"(branches: {sorted(self.branches())})"
            )

    # ---------------------------------------------------------------- create
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        schema: T.StructType,
        bucket_keys: list[str],
        bucket_count: int = 16,
        summary: dict[str, Any] | None = None,
        props: dict[str, Any] | None = None,
    ) -> "LakeTable":
        path = os.path.abspath(path)
        lake = os.path.join(path, _LAKE_DIR)
        os.makedirs(lake, exist_ok=True)
        if os.path.exists(os.path.join(lake, _CURRENT)):
            raise FileExistsError(f"table already exists at {path}")
        if (props or {}).get("merge_engine") == "partial_update":
            # per-column writer ranks ride a hidden struct column: exact
            # out-of-order patch resolution must know WHEN each column was
            # last written, and that survives compaction only if stored
            # (Paimon's per-field sequence groups solve the same problem)
            schema = _with_writer_ranks(schema, props or {}, bucket_keys)
        elif (props or {}).get("merge_engine") == "aggregation":
            # validate the per-column function spec up front; only the
            # positional functions (last/first_non_null) need write ranks
            schema = _with_agg_ranks(schema, props or {}, bucket_keys)
        elif (props or {}).get("merge_engine") == "first_row":
            # whole-row min_by resolution: no hidden state, but the order
            # must exist for the fold to be defined
            if not (props or {}).get("order_cols"):
                raise ValueError("merge_engine='first_row' requires order_cols")
        elif (props or {}).get("merge_engine") not in (None, "lww"):
            raise ValueError(
                f"unknown merge_engine {(props or {})['merge_engine']!r}: "
                "lww | first_row | partial_update | aggregation"
            )
        snap = Snapshot(
            snapshot_id=0,
            parent_id=None,
            operation="create",
            schema_json=schema.jsonValue(),
            bucket_count=bucket_count,
            bucket_keys=list(bucket_keys),
            bucket_files={},
            summary=summary or {},
            props={"bucket_fn": "murmur3", **(props or {})},
        )
        cls._write_snapshot(lake, snap)
        cls._flip_current(lake, snap.snapshot_id)
        return cls(spark, path)

    @classmethod
    def exists(cls, path: str) -> bool:
        return os.path.exists(os.path.join(os.path.abspath(path), _LAKE_DIR, _CURRENT))

    # -------------------------------------------------------------- metadata
    @staticmethod
    def _snap_name(snapshot_id: int) -> str:
        return f"v{snapshot_id:08d}.json"

    @classmethod
    def _write_snapshot(cls, lake_dir: str, snap: Snapshot) -> None:
        if snap.committed_at is None:
            snap.committed_at = time.time()
        target = os.path.join(lake_dir, cls._snap_name(snap.snapshot_id))
        try:
            # O_EXCL: two writers racing for the same snapshot id -> one loses.
            fd = os.open(target, os.O_WRONLY | os.O_CREAT | os.O_EXCL)
        except FileExistsError as e:
            raise CommitConflict(f"snapshot {snap.snapshot_id} already committed") from e
        with os.fdopen(fd, "w") as f:
            json.dump(snap.to_json(), f)
            f.flush()
            os.fsync(f.fileno())
        cls._advance_id_hwm(lake_dir, snap.snapshot_id)

    @staticmethod
    def _advance_id_hwm(lake_dir: str, snapshot_id: int) -> None:
        """Persist the monotonic snapshot-id high-watermark (advanced under
        a flock). Without it ``_next_snapshot_id`` derives the next id from
        the surviving manifest listing, so after ``expire_snapshots``
        deletes the highest-id orphan (a CAS loser's manifest) the same id
        could be minted again for a DIFFERENT commit — and an
        operator-held integer id (logs, bench JSON, rollback scripts)
        would silently resolve to a different snapshot."""
        path = os.path.join(lake_dir, _ID_HWM)
        with open(path + ".flock", "w") as lk:
            fcntl.flock(lk, fcntl.LOCK_EX)
            try:
                cur = -1
                try:
                    with open(path) as f:
                        cur = int(f.read().strip() or -1)
                except (FileNotFoundError, ValueError):
                    pass
                if snapshot_id > cur:
                    tmp = f"{path}.{uuid.uuid4().hex}.tmp"
                    with open(tmp, "w") as f:
                        f.write(str(snapshot_id))
                        f.flush()
                        os.fsync(f.fileno())
                    os.replace(tmp, path)
            finally:
                fcntl.flock(lk, fcntl.LOCK_UN)

    @staticmethod
    def _flip_current(
        lake_dir: str, snapshot_id: int, current_name: str = _CURRENT
    ) -> None:
        tmp = os.path.join(lake_dir, f".current.{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            f.write(str(snapshot_id))
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, os.path.join(lake_dir, current_name))  # atomic on POSIX

    def current_snapshot_id(self) -> int:
        with open(os.path.join(self._lake, self._current_file)) as f:
            return int(f.read().strip())

    def _commit_flip(self, snapshot_id: int, expected_parent: int) -> None:
        """Compare-and-set the ref pointer: the flip happens only if the
        ref still points at ``expected_parent``, under a per-ref flock (no
        staleness — the kernel releases it with the process). This is the
        COMMIT POINT: with DAG-global snapshot ids the O_EXCL manifest
        write no longer doubles as the same-ref CAS (two same-ref writers
        can win DIFFERENT ids), so a blind pointer flip could silently
        orphan the slower writer's lineage. The loser now gets a
        CommitConflict for its caller's retry machinery; its
        already-written manifest is unreachable garbage that
        ``expire_snapshots`` sweeps."""
        lock_path = os.path.join(self._lake, f".{self._current_file}.flock")
        with open(lock_path, "w") as lk:
            fcntl.flock(lk, fcntl.LOCK_EX)
            try:
                cur = self.current_snapshot_id()
                if cur != expected_parent:
                    raise CommitConflict(
                        f"ref {self._current_file} moved to {cur} while "
                        f"committing {snapshot_id} (expected parent "
                        f"{expected_parent}); manifest left for GC"
                    )
                self._flip_current(self._lake, snapshot_id, self._current_file)
            finally:
                fcntl.flock(lk, fcntl.LOCK_UN)

    def _next_snapshot_id(self) -> int:
        """Branch-safe id allocation: ids are unique across the whole DAG
        AND across time (max of existing manifests and the persisted
        high-watermark, + 1) — an id is never re-minted even after the
        manifest that carried it is expired; the O_EXCL manifest write
        arbitrates races and retry_commit re-allocates."""
        ids = [
            int(n[1:-5]) for n in os.listdir(self._lake)
            if n.startswith("v") and n.endswith(".json")
        ]
        hwm = -1
        try:
            with open(os.path.join(self._lake, _ID_HWM)) as f:
                hwm = int(f.read().strip() or -1)
        except (FileNotFoundError, ValueError):
            pass
        return max(max(ids, default=-1), hwm) + 1

    def snapshot(self, snapshot_id: int | None = None) -> Snapshot:
        sid = self.current_snapshot_id() if snapshot_id is None else snapshot_id
        with open(os.path.join(self._lake, self._snap_name(sid))) as f:
            return Snapshot.from_json(json.load(f))

    def snapshots(self) -> list[Snapshot]:
        """THIS ref's history: the parent-chain ancestry of the current
        head, oldest first. On main that is main's line; on a branch it is
        the shared prefix + the branch's own commits — another branch's
        commits never appear (the DAG is shared, histories are not)."""
        chain: list[Snapshot] = []
        sid: int | None = self.current_snapshot_id()
        while sid is not None:
            try:
                s = self.snapshot(sid)
            except FileNotFoundError:
                break  # older ancestry expired
            chain.append(s)
            sid = s.parent_id
        chain.reverse()
        return chain

    def all_snapshots(self) -> list[Snapshot]:
        """Every manifest in the DAG regardless of ref (file-liveness
        computations must see all branches; history listings should use
        ``snapshots()``)."""
        out = []
        for name in sorted(os.listdir(self._lake)):
            if name.startswith("v") and name.endswith(".json"):
                with open(os.path.join(self._lake, name)) as f:
                    out.append(Snapshot.from_json(json.load(f)))
        return out

    @property
    def bucket_keys(self) -> list[str]:
        return self.snapshot().bucket_keys

    @property
    def bucket_count(self) -> int:
        return self.snapshot().bucket_count

    def bucket_col(self) -> F.Column:
        s = self.snapshot()
        return _bucket_expr(s.bucket_keys, s.bucket_count, s.bucket_fn)

    def co_partitioned_write_ok(self, agg_keys: list[str]) -> bool:
        """True when an aggregation keyed on ``agg_keys`` leaves its output
        already clustered by this table's buckets: murmur3 bucket fn, the
        agg keys ARE the bucket keys, and the session shuffle partition
        count is a multiple of bucket_count (pmod(h, k*N) fixes pmod(h, N))."""
        snap = self.snapshot()
        if snap.bucket_fn != "murmur3" or list(agg_keys) != list(snap.bucket_keys):
            return False
        try:
            sp = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        except Exception:
            return False
        return sp % snap.bucket_count == 0

    # ------------------------------------------------------------------ read
    def read(
        self,
        snapshot_id: int | None = None,
        buckets: list[int] | None = None,
        keep_tombstones: bool = False,
        prune: dict[str, tuple] | None = None,
    ) -> DataFrame:
        """Read the table at a snapshot ("VERSION AS OF"), optionally pruned
        to a bucket subset (partition pruning — only those buckets' files are
        listed in the scan, everything else is never opened).

        If the selected buckets carry merge-on-read delta layers, they are
        resolved here: last-writer-wins over the table's ``order_cols``
        across base ∪ delta rows, then delete tombstones (``op='D'``)
        drop out. Buckets without deltas take the plain-scan fast path.

        **Tombstone durability**: base files written by compaction /
        copy-on-write merges / rebucket RETAIN delete winners as rows with
        ``op='D'`` (see ``expire_tombstones`` for the GC horizon), so a
        stale out-of-order event can never resurrect a deleted key no
        matter how long after the delete it arrives. Tables whose
        snapshots never recorded a base tombstone (``props``
        ``base_tombstones`` unset) keep the byte-identical plain-scan
        plan. ``keep_tombstones=True`` (internal: maintenance rewrites)
        returns the resolved rows INCLUDING 'D' winners, with the ``op``
        column appended.

        ``prune`` = ``{col: (lo, hi)}`` range predicates (either bound may
        be None) enables **manifest-level data skipping** (Iceberg
        lower/upper-bound pruning): files whose committed ``stats_cols``
        min/max cannot intersect the range are dropped from the scan
        without opening a footer or scheduling a task. Correctness never
        rests on the stats — the same predicate is applied as a row filter
        over everything that survives, files without stats are kept, and
        delta-bearing buckets are never file-pruned (a base row out of
        range can still WIN last-writer-wins against an in-range stale
        delta row, so those buckets resolve fully and filter after the
        merge)."""
        snap = (
            snapshot_id
            if isinstance(snapshot_id, Snapshot)  # ephemeral (WAP audit read)
            else self.snapshot(snapshot_id)
        )
        if prune:
            known = {fld.name for fld in snap.schema.fields}
            bad = [c for c in prune if c not in known]
            if bad:
                raise ValueError(f"prune columns not in schema: {bad}")
        sel = list(range(snap.bucket_count)) if buckets is None else buckets
        cols = [fld.name for fld in snap.schema.fields]
        if "op" in cols:
            # 'op' is a DATA column here (e.g. the quarantine table stores
            # raw change events) — such tables cannot carry MOR layers or
            # tombstones, so the reserved-column machinery must stay out
            if keep_tombstones:
                raise ValueError(
                    f"table {self.path} owns 'op' as a data column; "
                    "tombstone-aware reads do not apply"
                )
            base_tomb = False
        else:
            base_tomb = bool(snap.props.get("base_tombstones")) or keep_tombstones
        patch = snap.props.get("merge_engine") == "partial_update"
        agg_eng = snap.props.get("merge_engine") == "aggregation"
        live = F.col("op").isNull() | (F.col("op") != "D")
        if patch:
            # compacted patch-table buckets may hold pass-through patch
            # rows (post-death / pre-creation patches kept individually
            # resolvable) — never user-visible rows
            live = live & (F.col("op").isNull() | (F.col("op") != "P"))
            base_tomb = True  # clean scans must see 'op' to drop them
        if agg_eng:
            # compacted aggregation rows carry op='U' (re-mergeable
            # partials); clean scans read the op schema and pass them all
            base_tomb = True
        # split the plan: buckets WITHOUT deltas take a plain scan; the LWW
        # merge aggregation runs only over delta-bearing buckets, so its
        # shuffle is proportional to the un-compacted slice of the table,
        # not the whole selection
        delta_sel = [b for b in sel if snap.delta_files.get(str(b))]
        clean_sel = [b for b in sel if not snap.delta_files.get(str(b))]
        clean_files = [f for b in clean_sel for f in snap.bucket_files.get(str(b), [])]
        base_files = [f for b in delta_sel for f in snap.bucket_files.get(str(b), [])]
        delta_files = [f for b in delta_sel for f in snap.delta_files.get(str(b), [])]
        if prune:
            # file skipping ONLY on delta-free buckets: their rows are final
            clean_files = [
                f for f in clean_files if not _stats_exclude(snap, f, prune)
            ]

        # Read with the snapshot's schema instead of mergeSchema: the
        # manifest is the source of truth, so no per-file footer merging on
        # the driver (which serializes and costs seconds per read at scale).
        # The vectorized parquet reader fills columns absent from older
        # files with NULLs — exactly additive-evolution semantics.
        def _scan(files: list[str], schema: T.StructType) -> DataFrame:
            return self.spark.read.schema(schema).parquet(
                *[os.path.join(self.path, f) for f in files]
            )

        delta_schema = T.StructType(
            snap.schema.fields + [T.StructField("op", T.StringType(), True)]
        )
        # the hidden per-column writer-rank struct is internal state: it
        # surfaces only on tombstone-aware reads (compaction/WAP rewrite
        # paths), never to users
        vis_cols = [c for c in cols if c != _WR_COL]
        out_cols = cols + ["op"] if keep_tombstones else vis_cols

        def _finish(df: DataFrame) -> DataFrame:
            if not prune:
                return df
            cond = F.lit(True)
            for c, (lo, hi) in prune.items():
                if lo is not None:
                    cond = cond & (F.col(c) >= F.lit(lo))
                if hi is not None:
                    cond = cond & (F.col(c) <= F.lit(hi))
            return df.where(cond)

        clean = None
        if clean_files:
            if base_tomb:
                # base files may carry 'D' rows: scan with op (null-filled
                # for files written before tombstone durability), filter
                clean = _scan(clean_files, delta_schema)
                if not keep_tombstones:
                    clean = clean.where(live)
            else:
                # delete-free table: byte-identical plain scan
                clean = _scan(clean_files, snap.schema)
            clean = clean.select(out_cols)
        if not delta_files:
            if clean is None:
                return self.spark.createDataFrame(
                    [], delta_schema if keep_tombstones else snap.schema
                )
            return _finish(clean)

        deltas = _scan(delta_files, delta_schema)
        if base_files:
            # base rows carry their REAL op (tombstones compete in the LWW
            # rank with their original (ts, lsn); null-filled = live)
            base = _scan(base_files, delta_schema)
            union = base.unionByName(deltas)
        else:
            union = deltas
        keys = snap.props.get("merge_keys", snap.bucket_keys)
        order = snap.props.get("order_cols")
        if not order:
            raise ValueError(
                f"table {self.path} has delta layers but no order_cols prop"
            )
        if patch:
            pcols = _patch_payload_cols(snap.schema, keys, list(order))
            merged = _patch_fold(union, list(keys), list(order), pcols,
                                 keep_tombstones)
        elif agg_eng:
            pcols = _patch_payload_cols(snap.schema, list(keys), list(order))
            merged = _agg_fold(union, list(keys), list(order), pcols,
                               _agg_fns(snap), keep_tombstones)
        else:
            payload = F.struct(*[F.col(c) for c in union.columns if c not in keys])
            rank = F.struct(*[F.col(c) for c in order])
            # first_row tables resolve by MIN over the order (first-writer-
            # wins); min shares every composition property max has, so the
            # same one-aggregation fold applies
            _by = (
                F.min_by
                if snap.props.get("merge_engine") == "first_row"
                else F.max_by
            )
            winners = (
                union.groupBy(*keys)
                .agg(_by(payload, rank).alias("_w"))
                .select(*keys, "_w.*")
            )
            merged = winners if keep_tombstones else winners.where(live)
        merged = merged.select(out_cols)
        return _finish(merged if clean is None else clean.unionByName(merged))

    def lookup(self, keys: DataFrame | list[dict]) -> DataFrame:
        """Point-lookup read: the current rows for an explicit set of full
        bucket-key values. Each key row hashes to exactly one bucket
        (``_bucket_expr`` — the same Murmur3 the writers cluster by), so
        the read opens O(distinct buckets among the keys) of the table's
        buckets — at 64+ buckets a handful of needle keys touches a
        fraction of the files with zero index structures (the GDPR
        subject-access / targeted-repair read path; Iceberg gets the same
        effect from bucket-partition pruning on point predicates).

        ``keys``: a small DataFrame or list of dicts carrying ALL bucket
        key columns (a prefix cannot prune — the bucket hash covers every
        key column). The key set is broadcast; LWW delta resolution and
        tombstone semantics are ``read``'s, unchanged."""
        snap = self.snapshot()
        kdf, buckets = self._key_frame(snap, keys)
        return self.read(snapshot_id=snap.snapshot_id, buckets=buckets).join(
            F.broadcast(kdf), on=list(snap.bucket_keys), how="left_semi"
        )

    def _key_frame(
        self, snap: Snapshot, keys: DataFrame | list[dict],
    ) -> tuple[DataFrame, list[int]]:
        """Normalize an explicit key set to (typed key frame, the distinct
        buckets those keys hash to)."""
        if isinstance(keys, list):
            present = set().union(*(d.keys() for d in keys)) if keys else set()
        else:
            present = set(keys.columns)
        missing = [k for k in snap.bucket_keys if k not in present]
        if missing:
            raise ValueError(
                f"lookup needs every bucket key; missing: {missing} "
                f"(bucket hash covers {snap.bucket_keys} — a key prefix "
                "cannot prune)"
            )
        if isinstance(keys, list):
            kdf = self.spark.createDataFrame(
                keys, T.StructType([
                    T.StructField(f.name, f.dataType, True)
                    for f in snap.schema.fields if f.name in snap.bucket_keys
                ]),
            )
        else:
            kdf = keys
        key_types = {f.name: f.dataType for f in snap.schema.fields}
        # cast to the table's own key types: Spark's Murmur3 is
        # type-sensitive (hash(5L) != hash(5)), so an int-vs-long mismatch
        # in a caller-built frame would hash to the WRONG buckets and the
        # lookup would silently miss rows
        kdf = kdf.select(
            *[F.col(k).cast(key_types[k]).alias(k) for k in snap.bucket_keys]
        ).dropDuplicates()
        buckets = sorted(
            int(r["b"])
            for r in kdf.select(
                _bucket_expr(snap.bucket_keys, snap.bucket_count,
                             snap.bucket_fn).alias("b")
            ).distinct().collect()
        )
        return kdf, buckets

    def erase(
        self,
        keys: DataFrame | list[dict],
        summary: dict[str, Any] | None = None,
    ) -> dict[str, Any]:
        """Right-to-be-forgotten erasure for an explicit set of full merge
        keys: PHYSICALLY rewrite the affected buckets without the rows
        (no payload byte survives in any current data file), and plant a
        payload-free delete tombstone per erased row so a late
        out-of-order event carrying the erased content (older event time,
        higher LSN — at-least-once transports produce these) cannot
        resurrect it. Tombstones are stamped at the erased row's own
        ``(order_cols)`` with the final order column bumped by one: they
        outrank the erased row and any staler event, while a GENUINELY
        new event (newer event time) still wins — erasure blocks the
        past, not the future.

        Cost: O(affected buckets) copy-on-write — the ``lookup`` bucket
        mapping prunes the rewrite to the buckets the keys hash to.
        Old snapshots still reference the erased bytes until
        ``expire_snapshots`` sweeps them, and quarantine/lineage lanes
        are separate tables — ``CdcApplier.erase_subject`` runs the
        whole compliance sweep. LWW tables only: under first_row (FWW)
        or aggregation semantics a tombstone cannot durably win, so
        those engines refuse.

        Reference analogue: the manual "remove the bad channel's files
        and reindex" loop (``aims_realtime_util.py`` wip/errors
        handling) — here one atomic commit with an anti-resurrection
        guarantee."""
        snap = self.snapshot()
        engine = snap.props.get("merge_engine", "lww")
        if engine != "lww":
            raise ValueError(
                f"erase needs LWW resolution to make tombstones durable; "
                f"this table's merge_engine is {engine!r} (a first-row or "
                "aggregation fold cannot let a later delete win)"
            )
        order = list(snap.props.get("order_cols", []))
        if not order:
            raise ValueError(
                "erase needs order_cols on the table to stamp tombstones"
            )
        last_t = snap.schema[order[-1]].dataType
        if not isinstance(last_t, (T.LongType, T.IntegerType)):
            raise ValueError(
                f"erase stamps tombstones at (order_cols) with the final "
                f"column bumped by 1; {order[-1]} is {last_t.simpleString()}, "
                "not integral"
            )
        kdf, buckets = self._key_frame(snap, keys)
        if not buckets:  # empty key set: nothing to erase, no commit
            return {"erased": 0, "buckets": [],
                    "snapshot_id": snap.snapshot_id}
        keycols = list(snap.bucket_keys)
        cur = self.read(
            snapshot_id=snap.snapshot_id, buckets=buckets, keep_tombstones=True
        )
        matched = cur.join(F.broadcast(kdf), on=keycols, how="left_semi")
        remaining = cur.join(F.broadcast(kdf), on=keycols, how="left_anti")
        matched = matched.localCheckpoint(eager=True)
        victims = matched.where(F.coalesce(F.col("op"), F.lit("K")) != "D")
        n = victims.count()
        payload = [
            f.name for f in snap.schema.fields
            if f.name not in keycols and f.name not in order
        ]

        def _payload_free(df: DataFrame, bump: bool) -> DataFrame:
            # a tombstone must carry NO payload byte; erased-row tombstones
            # bump the final order column so they outrank the erased row
            # AND any staler event, while pre-existing delete tombstones of
            # the targeted keys keep their own rank (they already guard)
            last = (
                (F.col(order[-1]) + F.lit(1)).cast(last_t)
                if bump else F.col(order[-1])
            )
            return df.select(
                *keycols,
                *[F.col(c) for c in order[:-1]],
                last.alias(order[-1]),
                *[F.lit(None).cast(snap.schema[c].dataType).alias(c)
                  for c in payload],
                F.lit("D").alias("op"),
            )

        tombstones = _payload_free(victims, bump=True)
        # pre-existing delete tombstones of the targeted keys are KEPT
        # (payload-scrubbed): dropping them would un-guard a previously
        # deleted key against its own stale redeliveries
        kept_tombstones = _payload_free(
            matched.where(F.coalesce(F.col("op"), F.lit("K")) == "D"),
            bump=False,
        )
        existing = [f.name for f in snap.schema.fields]
        new_content = (
            remaining.select(*existing, "op")
            .unionByName(tombstones.select(*existing, "op"))
            .unionByName(kept_tombstones.select(*existing, "op"))
        )
        # the rewrite migrates any delta-layer tombstones of OTHER keys
        # into base (replace_buckets subsumes the deltas), so the op-aware
        # read path must stay on whenever tombstones can be present —
        # keyed off the table state, not this call's victim count (the
        # other rewrite verbs do the same)
        has_tombstones = (
            n > 0
            or bool(snap.props.get("base_tombstones"))
            or any(snap.delta_files.get(str(b)) for b in buckets)
        )
        new_snap = self.replace_buckets(
            new_content, buckets,
            summary={**snap.summary, **(summary or {}), "erased_rows": n},
            sort_cols=keycols,
            expected_parent=snap.snapshot_id,
            props_update={"base_tombstones": True} if has_tombstones else None,
        )
        return {"erased": n, "buckets": buckets,
                "snapshot_id": new_snap.snapshot_id}

    def merge_into(
        self,
        source: DataFrame,
        update_set: dict[str, Any] | str | None = "all",
        insert: bool = True,
        delete_when: Any | None = None,
        summary: dict[str, Any] | None = None,
    ) -> dict[str, Any]:
        """SQL ``MERGE INTO`` over the bucket-pruned copy-on-write path
        (Delta/Iceberg MERGE semantics, batch-wins):

        * WHEN MATCHED AND ``delete_when`` → row deleted (durable
          tombstone, same guarantee as :meth:`erase`);
        * WHEN MATCHED → ``update_set`` applied over the current row —
          ``"all"`` overwrites every payload column with the source's,
          a dict maps payload column → Column expression over the
          aliases ``s`` (source) and ``t`` (target current row), and
          ``None`` (no WHEN MATCHED UPDATE clause) leaves the row as it
          is, payload and order stamp both;
        * WHEN NOT MATCHED → source row inserts (``insert=False`` drops
          unmatched source rows — update-only merge).

        The source must carry the merge keys and the table's order
        columns. Produced rows are stamped to DOMINATE the current row
        ((greatest(ts), max(lsn, current+1))) — SQL MERGE overwrites
        unconditionally, unlike the event-sourced apply loop where a
        stale event loses LWW — while remaining ordinary events in the
        LWW order, so later CDC events newer than the merge still win.
        Cost: one join of the source against the AFFECTED buckets only
        (the source's keys hash to their buckets driver-side, exactly
        like ``lookup``/``erase``) + the CoW rewrite of those buckets;
        unaffected buckets carry forward by reference."""
        snap = self.snapshot()
        if snap.props.get("merge_engine", "lww") != "lww":
            raise ValueError(
                "merge_into needs LWW resolution (batch-wins stamping); "
                f"this table's merge_engine is "
                f"{snap.props.get('merge_engine')!r}"
            )
        order = list(snap.props.get("order_cols", []))
        if not order:
            raise ValueError("merge_into needs order_cols on the table")
        last_t = snap.schema[order[-1]].dataType
        if not isinstance(last_t, (T.LongType, T.IntegerType)):
            raise ValueError(
                f"merge_into stamps dominance via the final order column; "
                f"{order[-1]} is {last_t.simpleString()}, not integral"
            )
        keycols = list(snap.bucket_keys)
        missing = [c for c in keycols + order if c not in source.columns]
        if missing:
            raise ValueError(
                f"merge source lacks key/order columns: {missing}"
            )
        kdf, buckets = self._key_frame(snap, source.select(*keycols))
        if not buckets:  # empty source: nothing to do, nothing to commit
            return {"updated": 0, "inserted": 0, "deleted": 0,
                    "buckets": [], "snapshot_id": snap.snapshot_id}
        cur = self.read(
            snapshot_id=snap.snapshot_id, buckets=buckets,
            keep_tombstones=True,
        )
        payload = [
            f.name for f in snap.schema.fields
            if f.name not in keycols and f.name not in order
        ]
        # side-presence markers: a NULLABLE order/payload column cannot
        # detect which join side exists (a target row with NULL there
        # would read as unmatched and silently vanish) — literals can
        src = source.withColumn("_sp", F.lit(1)).alias("s")
        # the join sees EVERY resolved row including tombstones: a
        # tombstoned key counts as NOT matched for MERGE semantics (the
        # key is dead; insert re-creates it), but the insert must then be
        # stamped to DOMINATE the dropped tombstone — otherwise events
        # staler than the original delete (which the tombstone bounced)
        # would resurrect dead-era content over the fresh insert
        tgt = cur.withColumn("_tp", F.lit(1)).alias("t")
        # expression join keeps BOTH qualified key copies (an on=[names]
        # join would coalesce them and break the s./t. references below)
        joined = src.join(
            tgt,
            on=[F.col(f"s.{k}") == F.col(f"t.{k}") for k in keycols],
            how="full_outer",
        )
        is_tomb = F.coalesce(F.col("t.op"), F.lit("K")) == "D"
        matched = F.col("_tp").isNotNull() & ~is_tomb
        has_src = F.col("_sp").isNotNull()
        has_tgt = F.col("_tp").isNotNull()

        if update_set == "all":
            lacking = [c for c in payload if c not in source.columns]
            if lacking:
                raise ValueError(
                    f"update_set='all' (UPDATE SET *) needs every payload "
                    f"column in the source; missing: {lacking}"
                )
            upd = {c: F.col(f"s.{c}") for c in payload}
        else:
            upd = {
                c: (F.expr(e) if isinstance(e, str) else e)
                for c, e in (update_set or {}).items()
            }
            bad = [c for c in upd if c not in payload]
            if bad:
                raise ValueError(
                    f"update_set names non-payload columns {bad} "
                    f"(payload: {payload})"
                )
        del_cond = (
            F.lit(False) if delete_when is None
            else (F.expr(delete_when) if isinstance(delete_when, str)
                  else delete_when)
        )
        # dominance stamp: the merge result outranks the current row —
        # live row for U/D, the dropped tombstone for an insert over a
        # dead key — and every staler event; ties break to the merge
        out_order = [
            F.when(has_tgt, F.greatest(F.col(f"s.{o}"), F.col(f"t.{o}")))
            .otherwise(F.col(f"s.{o}"))
            for o in order[:-1]
        ] + [
            F.when(
                has_tgt,
                F.greatest(
                    F.col(f"s.{order[-1]}"),
                    F.col(f"t.{order[-1]}") + F.lit(1),
                ),
            ).otherwise(F.col(f"s.{order[-1]}")).cast(last_t)
        ]
        key_out = [
            F.coalesce(F.col(f"s.{k}"), F.col(f"t.{k}")).alias(k)
            for k in keycols
        ]
        action = (
            F.when(matched & has_src & del_cond, "D")
            # N: matched, kept unchanged (no update clause) — still one
            # source row per key, so it joins the duplicate check below
            .when(matched & has_src, "U" if update_set is not None else "N")
            .when(has_src & F.lit(insert), "I")
            .otherwise("K")  # target-only row (live OR tombstone): carried
        )
        def _src_col(c: str) -> F.Column:
            # a payload column the source doesn't carry (update-only
            # merges pass a keys+order frame) inserts as NULL — the
            # branch is unreachable with insert=False but is analyzed
            return (
                F.col(f"s.{c}") if c in source.columns
                else F.lit(None).cast(snap.schema[c].dataType)
            )

        upd_cols = [
            F.when(F.col("_act") == "D", F.lit(None).cast(snap.schema[c].dataType))
            .when(F.col("_act") == "U",
                  upd[c] if c in upd else F.col(f"t.{c}"))
            .when(F.col("_act") == "I", _src_col(c))
            .otherwise(F.col(f"t.{c}"))
            .alias(c)
            for c in payload
        ]
        order_out = [
            # D/U/I all take the dominance stamp (for I it degrades to
            # the source's own stamp when no tombstone was dropped);
            # K carries the target row's stamp untouched
            F.when(F.col("_act").isin("D", "U", "I"), oo)
            .otherwise(F.col(f"t.{o}"))
            .alias(o)
            for o, oo in zip(order, out_order)
        ]
        resolved = (
            joined.withColumn("_act", action)
            # K rows survive only when a target row exists (live row or
            # tombstone to carry through); source-only K rows are the
            # dropped unmatched rows of an update-only merge
            .where((F.col("_act") != "K") | has_tgt)
            .select(
                *key_out, *upd_cols, *order_out,
                # a carried tombstone stays a tombstone
                F.when(
                    (F.col("_act") == "D")
                    | ((F.col("_act") == "K") & is_tomb),
                    "D",
                ).otherwise(F.lit(None).cast("string")).alias("op"),
                F.col("_act").alias("_act"),
            )
        )
        resolved = resolved.localCheckpoint(eager=True)  # one join, reused
        dups = (
            resolved.where(F.col("_act") != "K")
            .groupBy(*keycols).count().where(F.col("count") > 1).limit(1)
            .collect()
        )
        if dups:
            raise ValueError(
                f"merge source has multiple rows for key "
                f"{tuple(dups[0][k] for k in keycols)} — SQL MERGE "
                "requires at most one source row per target key "
                "(pre-aggregate the source, e.g. lww_dedup)"
            )
        stats = resolved.groupBy("_act").count().collect()
        counts = {r["_act"]: r["count"] for r in stats}
        dml_counts = {
            k: int(v) for k, v in counts.items() if k in ("D", "U", "I")
        }
        existing = [f.name for f in snap.schema.fields]
        new_content = resolved.drop("_act").select(*existing, "op")
        has_tombstones = (
            counts.get("D", 0) > 0
            or bool(snap.props.get("base_tombstones"))
            or any(snap.delta_files.get(str(b)) for b in buckets)
        )
        new_snap = self.replace_buckets(
            new_content, buckets,
            summary={**snap.summary, **(summary or {}),
                     "merge_into": dml_counts},
            sort_cols=keycols,
            expected_parent=snap.snapshot_id,
            props_update={"base_tombstones": True} if has_tombstones else None,
        )
        return {
            "updated": int(counts.get("U", 0)),
            "inserted": int(counts.get("I", 0)),
            "deleted": int(counts.get("D", 0)),
            "buckets": buckets,
            "snapshot_id": new_snap.snapshot_id,
        }

    def delete_where(self, cond: Any) -> dict[str, Any]:
        """``DELETE FROM t WHERE cond`` (Delta/Iceberg row-level delete):
        one column-pruned scan finds the matching keys, then
        :meth:`erase` rewrites only their buckets with durable
        anti-resurrection tombstones — a predicate delete is exactly a
        key-set erase once the keys are known."""
        cond = F.expr(cond) if isinstance(cond, str) else cond
        keys = (
            self.read().where(cond)
            .select(*self.bucket_keys).dropDuplicates()
            .localCheckpoint(eager=True)
        )
        res = self.erase(keys, summary={"delete_where": str(cond)})
        return {"deleted": res["erased"], "buckets": res["buckets"],
                "snapshot_id": res["snapshot_id"]}

    def update_where(
        self, cond: Any, set_exprs: dict[str, Any],
    ) -> dict[str, Any]:
        """``UPDATE t SET ... WHERE cond``: the matching current rows
        become the merge source and :meth:`merge_into` applies the
        assignments (expressions over the ``t`` alias; the source IS the
        target row, exposed as ``s`` too) with the batch-wins dominance
        stamp — so the update survives stale stragglers but a genuinely
        newer CDC event still overwrites it."""
        cond = F.expr(cond) if isinstance(cond, str) else cond
        snap = self.snapshot()
        # full matched rows (keys + order + payload), not just keys: the
        # docstring promise that set expressions may reference the matched
        # row as `s` needs the payload columns present in the source frame
        src = self.read().where(cond).localCheckpoint(eager=True)
        res = self.merge_into(
            src, update_set=set_exprs, insert=False,
            summary={"update_where": str(cond)},
        )
        return {"updated": res["updated"], "buckets": res["buckets"],
                "snapshot_id": res["snapshot_id"]}

    def purge(
        self,
        keys: DataFrame | list[dict],
        key_cols: list[str],
        summary: dict[str, Any] | None = None,
    ) -> dict[str, Any]:
        """Plain physical delete of rows matching ``key_cols`` values —
        no tombstones, no merge semantics — for side tables that are not
        LWW-resolved (quarantine, lineage): the compliance sweep must
        scrub a subject's raw events out of the quarantine lane too.
        ``key_cols`` need not be the table's bucket keys, so the match is
        a scan of the table (side lanes are small by design — bounded by
        the invalid-event rate) with the buckets that contain matches
        rewritten copy-on-write."""
        snap = self.snapshot()
        if isinstance(keys, list):
            kdf = self.spark.createDataFrame(keys).select(*key_cols)
        else:
            kdf = keys.select(*key_cols)
        types = {f.name: f.dataType for f in snap.schema.fields}
        kdf = kdf.select(
            *[F.col(k).cast(types[k]).alias(k) for k in key_cols]
        ).dropDuplicates()
        cur = self.read(snapshot_id=snap.snapshot_id)
        hit_buckets = sorted(
            int(r["_b"]) for r in cur.join(
                F.broadcast(kdf), on=key_cols, how="left_semi"
            ).select(self.bucket_col().alias("_b")).distinct().collect()
        )
        if not hit_buckets:
            return {"purged": 0, "buckets": [],
                    "snapshot_id": snap.snapshot_id}
        slice_ = self.read(snapshot_id=snap.snapshot_id, buckets=hit_buckets)
        kept = slice_.join(F.broadcast(kdf), on=key_cols, how="left_anti")
        n = slice_.count() - kept.count()
        new_snap = self.replace_buckets(
            kept, hit_buckets,
            summary={**snap.summary, **(summary or {}), "purged_rows": n},
            expected_parent=snap.snapshot_id,
        )
        return {"purged": n, "buckets": hit_buckets,
                "snapshot_id": new_snap.snapshot_id}

    def snapshot_as_of(self, ts: float) -> Snapshot:
        """The current ref's latest snapshot committed at or before epoch
        ``ts`` (``TIMESTAMP AS OF`` resolution; walks this ref's
        ancestry). Manifests from before the ``committed_at`` field are
        treated as infinitely old — they resolve only when nothing newer
        qualifies."""
        best = None
        for s in self.snapshots():
            at = s.committed_at if s.committed_at is not None else float("-inf")
            if at <= ts:
                best = s
        if best is None:
            raise ValueError(
                f"no snapshot at or before {ts} on table {self.path} "
                "(earliest retained is newer — expired, or the table is "
                "younger than the asked instant)"
            )
        return best

    def read_as_of(self, ts: float, **kwargs: Any) -> DataFrame:
        """Read the table ``TIMESTAMP AS OF`` epoch ``ts`` (Delta/Iceberg
        timestamp time travel; pairs with ``read(snapshot_id=...)`` =
        ``VERSION AS OF``)."""
        return self.read(snapshot_id=self.snapshot_as_of(ts).snapshot_id,
                         **kwargs)

    def changes_between_tags(
        self, from_tag: str, to_tag: str | None = None,
        with_before: bool = False,
    ) -> DataFrame:
        """Incremental read between named refs (Paimon
        ``incremental-between`` with tag names): the changelog from
        ``from_tag``'s snapshot to ``to_tag``'s (default: current head) —
        e.g. the row-level diff between two dataset releases."""
        tags = self.tags()
        if from_tag not in tags or (to_tag is not None and to_tag not in tags):
            missing = [t for t in (from_tag, to_tag)
                       if t is not None and t not in tags]
            raise KeyError(
                f"no tag(s) {missing} on table {self.path} "
                f"(tags: {sorted(tags)})"
            )
        return self.changes_between(
            tags[from_tag],
            None if to_tag is None else tags[to_tag],
            with_before=with_before,
        )

    def changes_between(
        self,
        from_snapshot_id: int,
        to_snapshot_id: int | None = None,
        with_before: bool = False,
    ) -> DataFrame:
        """Changelog read: the I/U/D row changes between two snapshots
        (Delta CDF / Iceberg changelog analogue) — the lake as a CDC
        *source*, so downstream incremental consumers (reporting marts,
        search indexes, another engine instance) replay only what moved.

        **Bucket-level metadata pruning**: a bucket whose base AND delta
        file lists are identical in both snapshots cannot contain a change
        — it is skipped without opening a file, so the scan is O(touched
        buckets), not O(table). The diff itself is ``snapshot_diff`` (one
        full-outer join on the merge keys over the pruned buckets) with
        LSNs assigned from the target's own committed high-watermark
        forward, making the changelog directly replayable into another
        ``CdcApplier``.

        ``with_before=True`` adds ``_prev_<col>`` before-image columns
        (Delta CDF update_preimage analogue) — the previous value for U/D
        rows, NULL for I — which is what an incremental aggregate
        maintainer needs to retract old contributions."""
        from ..sources.change_capture import snapshot_diff

        to_id = self.current_snapshot_id() if to_snapshot_id is None else to_snapshot_id
        s_from = self.snapshot(from_snapshot_id)
        s_to = self.snapshot(to_id)
        changed = [
            b
            for b in range(s_to.bucket_count)
            if s_from.bucket_files.get(str(b)) != s_to.bucket_files.get(str(b))
            or s_from.delta_files.get(str(b)) != s_to.delta_files.get(str(b))
        ]
        keys = s_to.props.get("merge_keys", s_to.bucket_keys)
        has_ts = any(f.name == "ts" for f in s_to.schema.fields)
        payload = [
            f.name for f in s_to.schema.fields
            if f.name not in keys and f.name not in ("ts", _WR_COL)
        ]
        # ts rides the before-image list too: a retraction-side consumer
        # (incremental MIN/MAX over event time) needs the PREVIOUS ts of
        # U/D rows — the changelog's top-level ts is the after-image for U
        before = payload + (["ts"] if has_ts else []) if with_before else None

        def _with_ts(df: DataFrame) -> DataFrame:
            # tables without an event-time column still diff; the changelog
            # carries a NULL ts (consumers ordering by (ts, lsn) fall back
            # to the lsn total order)
            return df if has_ts else df.withColumn(
                "ts", F.lit(None).cast("timestamp")
            )

        if not changed:
            prev = _with_ts(self.spark.createDataFrame([], s_to.schema))
            return snapshot_diff(prev, prev, keys=keys, before_cols=before)
        prev = _with_ts(self.read(from_snapshot_id, buckets=changed))
        cur = _with_ts(self.read(to_id, buckets=changed))
        base_lsn = int(
            s_to.summary.get("offsets", {}).get("last_lsn", -1)
        ) + 1
        return snapshot_diff(
            prev, cur, keys=keys, lsn_start=base_lsn, before_cols=before
        )

    # ----------------------------------------------------------------- write
    def _write_data_files(
        self,
        df: DataFrame,
        commit_token: str,
        sort_cols: list[str] | None,
        files_per_bucket: int = 1,
        pre_partitioned: bool = False,
        n_buckets: int | None = None,
    ) -> dict[str, list[str]]:
        """Write ``df`` (must contain a ``bucket`` int column) under a fresh
        commit dir, hive-partitioned by bucket; return bucket -> relative
        file paths.

        Rows are clustered so each task holds whole buckets — without this,
        every shuffle partition writes a sliver of every bucket and a commit
        explodes into shuffle_partitions x bucket_count tiny files (fatal at
        scale: file-count growth + tiny-file reads). ``files_per_bucket > 1``
        splits giant buckets across that many tasks.

        ``pre_partitioned=True`` asserts the caller's plan is ALREADY
        hash-partitioned on the bucket keys with the table's murmur3 bucket
        fn and a partition count that is a multiple of bucket_count — then
        every task holds whole buckets by construction and the clustering
        repartition (a second full-payload shuffle) is skipped. If the
        assertion is ever wrong the failure mode is extra files per bucket,
        never misplaced rows (the hive bucket= dir is derived per row)."""
        commit_rel = os.path.join(_DATA_DIR, commit_token)
        commit_abs = os.path.join(self.path, commit_rel)
        snap_buckets = self.bucket_count if n_buckets is None else n_buckets
        # Exact task placement (not plain hash clustering): hashing n
        # distinct bucket ids into n partitions is balls-in-bins — the
        # fullest task carries 3-4 buckets, ~1/e of the slots run empty,
        # and the straggler tax surfaces only at high parallelism (it
        # measurably degraded the N->4N scaling pair). Routing through the
        # per-partition hash preimage pins bucket b to partition b: one
        # whole bucket per task, every slot filled. Mapping error can only
        # ever cost extra files, never misplaced rows (hive dir is derived
        # per row), same guarantee as pre_partitioned.
        if pre_partitioned:
            writer = df
        elif files_per_bucket > 1:
            split = F.pmod(F.xxhash64(*[F.col(c) for c in (sort_cols or ["bucket"])]),
                           F.lit(files_per_bucket))
            n_parts = snap_buckets * files_per_bucket
            idx = F.pmod(F.col("bucket"), F.lit(snap_buckets)) * files_per_bucket + split
            writer = df.repartition(n_parts, _exact_partition_salt(idx, n_parts))
        else:
            writer = df.repartition(
                snap_buckets, _exact_partition_salt(F.col("bucket"), snap_buckets)
            )
        if sort_cols:
            writer = writer.sortWithinPartitions("bucket", *sort_cols)
        writer.write.mode("error").partitionBy("bucket").parquet(commit_abs)
        return self._list_commit_files(commit_rel, commit_abs)

    @staticmethod
    def _list_commit_files(commit_rel: str, commit_abs: str) -> dict[str, list[str]]:
        out: dict[str, list[str]] = {}
        if os.path.exists(commit_abs):
            for entry in os.listdir(commit_abs):
                if entry.startswith("bucket="):
                    b = entry.split("=", 1)[1]
                    bdir = os.path.join(commit_abs, entry)
                    out[b] = sorted(
                        os.path.join(commit_rel, entry, f)
                        for f in os.listdir(bdir)
                        if f.endswith(".parquet")
                    )
        return out

    def _commit(
        self,
        operation: str,
        new_bucket_files: dict[str, list[str]],
        carried_buckets: dict[str, list[str]],
        schema: T.StructType,
        summary: dict[str, Any],
        expected_parent: int | None = None,
        delta_files: dict[str, list[str]] | None = None,
        bucket_count: int | None = None,
        props_update: dict[str, Any] | None = None,
    ) -> Snapshot:
        parent = self.current_snapshot_id()
        if expected_parent is not None and parent != expected_parent:
            raise CommitConflict(f"expected parent {expected_parent}, found {parent}")
        merged: dict[str, list[str]] = dict(carried_buckets)
        merged.update(new_bucket_files)
        merged = {b: fs for b, fs in merged.items() if fs}
        prev = self.snapshot(parent)
        deltas = prev.delta_files if delta_files is None else delta_files
        next_props = {**prev.props, **(props_update or {})}
        for attempt in range(64):
            snap = Snapshot(
                snapshot_id=self._next_snapshot_id(),
                parent_id=parent,
                operation=operation,
                schema_json=schema.jsonValue(),
                bucket_count=prev.bucket_count if bucket_count is None else bucket_count,
                bucket_keys=prev.bucket_keys,
                bucket_files=merged,
                summary=summary,
                delta_files={b: fs for b, fs in deltas.items() if fs},
                props=next_props,
                file_col_stats=self._carry_col_stats(prev, merged, next_props),
            )
            try:
                self._write_snapshot(self._lake, snap)
            except CommitConflict:
                # ids are DAG-global: a concurrent commit on ANOTHER ref
                # (main vs branch) can race us to the same id without
                # touching our ref. If our ref's head is unchanged the
                # conflict is id-level only — re-allocate and retry; a
                # moved head is a true conflict for the caller's
                # expected_parent machinery.
                if self.current_snapshot_id() != parent:
                    raise
                time.sleep(0.01 * (attempt + 1))
                continue
            self._commit_flip(snap.snapshot_id, parent)
            return snap
        raise CommitConflict(
            f"could not allocate a snapshot id after 64 attempts on {self.path}"
        )

    def _carry_col_stats(
        self,
        prev: Snapshot,
        bucket_files: dict[str, list[str]],
        props: dict[str, Any],
    ) -> dict[str, dict[str, list]]:
        """Manifest stats maintenance at the single commit choke point:
        per-file column min/max for the table's ``stats_cols`` prop. Stats
        for files already in the parent manifest carry forward verbatim
        (footers are read ONCE per file, ever); stats for files that left
        the manifest drop with it. Driver cost is O(new files) footer
        reads per commit — the same budget as the lineage footer pass."""
        stats_cols = props.get("stats_cols")
        if not stats_cols:
            return {}
        # base files only: delta layers are never file-pruned (LWW winner
        # interplay), so their footers are not worth a per-chunk pass
        referenced = {f for fs in bucket_files.values() for f in fs}
        out = {f: prev.file_col_stats[f] for f in referenced
               if f in prev.file_col_stats}
        new = [f for f in sorted(referenced) if f not in out]
        if new:
            out.update(self._harvest_col_stats(new, list(stats_cols)))
        return out

    def _harvest_col_stats(
        self, rel_files: list[str], cols: list[str]
    ) -> dict[str, dict[str, list]]:
        """Exact per-file [min, max] for ``cols`` from parquet footers (all
        row groups folded). A column missing from a file, or any row group
        without usable min/max, yields no entry for that column — pruning
        treats absent stats as 'may match' (conservative keep)."""
        import pyarrow.parquet as pq

        out: dict[str, dict[str, list]] = {}
        for rel in rel_files:
            try:
                md = pq.ParquetFile(os.path.join(self.path, rel)).metadata
            except Exception:
                continue
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
            fstats: dict[str, list] = {}
            for c in cols:
                if c not in idx:
                    continue
                lo = hi = None
                usable = True
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(idx[c]).statistics
                    if st is None or not st.has_min_max:
                        usable = False
                        break
                    mn, mx = _stat_json(st.min), _stat_json(st.max)
                    lo = mn if lo is None or mn < lo else lo
                    hi = mx if hi is None or mx > hi else hi
                if usable and lo is not None:
                    fstats[c] = [lo, hi]
            if fstats:
                out[rel] = fstats
        return out

    def _with_bucket(self, df: DataFrame) -> DataFrame:
        snap = self.snapshot()
        return df.withColumn(
            "bucket", _bucket_expr(snap.bucket_keys, snap.bucket_count, snap.bucket_fn)
        )

    def _stamp_writer_ranks(self, df: DataFrame) -> DataFrame:
        """Partial-update tables: rows arriving WITHOUT per-column writer
        ranks get them stamped here. Rows with no ``op`` (bulk
        append/overwrite) and full writes (op I/U) wrote every column at
        their own rank; patch rows (op P) wrote only their non-null
        columns; deletes wrote nothing. Without the stamp the read fold
        would see every column as never-written and the rows would
        surface all-NULL — a silent-loss trap."""
        snap = self.snapshot()
        engine = snap.props.get("merge_engine")
        if engine not in ("partial_update", "aggregation") or _WR_COL in df.columns:
            return df
        if engine == "aggregation":
            # only the positional columns (last/first_non_null) carry
            # ranks, and a NULL value never updates them (Paimon null
            # semantics), so the stamp is value-conditional — op plays no
            # part (every accepted row is a contribution; D is rejected
            # upstream)
            if not any(f.name == _WR_COL for f in snap.schema.fields):
                return df  # no positional functions on this table
            order = list(snap.props["order_cols"])
            missing = [o for o in order if o not in df.columns]
            if missing:
                raise ValueError(
                    f"aggregation write needs order columns {missing} "
                    "to stamp positional-function write ranks"
                )
            rank = F.struct(*[F.col(o) for o in order])
            wr_type = next(
                f.dataType for f in snap.schema.fields if f.name == _WR_COL
            )
            fields = [
                (
                    F.when(F.col(f.name).isNotNull(), rank)
                    if f.name in df.columns
                    else F.lit(None)  # additive evolution: column not in stream
                ).alias(f.name)
                for f in wr_type.fields
            ]
            return df.withColumn(_WR_COL, F.struct(*fields).cast(wr_type))
        keys = snap.props.get("merge_keys", snap.bucket_keys)
        order = list(snap.props["order_cols"])
        missing = [o for o in order if o not in df.columns]
        if missing:
            raise ValueError(
                f"partial_update write needs order columns {missing} "
                "to stamp per-column writer ranks"
            )
        rank = F.struct(*[F.col(o) for o in order])
        payload = _patch_payload_cols(snap.schema, list(keys), order)
        if "op" in df.columns:
            full = F.col("op").isin("I", "U") | F.col("op").isNull()
            fields = [
                F.when(full, rank)
                .when((F.col("op") == "P") & F.col(c).isNotNull(), rank)
                .alias(c)
                for c in payload
            ]
        else:
            fields = [rank.alias(c) for c in payload]
        wr_type = next(
            f.dataType for f in snap.schema.fields if f.name == _WR_COL
        )
        return df.withColumn(_WR_COL, F.struct(*fields).cast(wr_type))

    def overwrite(
        self,
        df: DataFrame,
        summary: dict[str, Any] | None = None,
        sort_cols: list[str] | None = None,
    ) -> Snapshot:
        """Full-table rewrite (bootstrap / compaction target)."""
        df = self._stamp_writer_ranks(df)
        token = f"c{self.current_snapshot_id() + 1}-{uuid.uuid4().hex[:12]}"
        files = self._write_data_files(self._with_bucket(df), token, sort_cols)
        return self._commit("overwrite", files, {}, df.schema, summary or {}, delta_files={})

    def rebucket(
        self,
        new_bucket_count: int,
        summary: dict[str, Any] | None = None,
    ) -> Snapshot:
        """Partition evolution for hash-bucketed tables: re-hash the full
        table into ``new_bucket_count`` buckets in ONE shuffle and commit
        atomically (the same O_EXCL snapshot flip as every commit; old
        files stay readable through time travel until snapshot expiry).

        Bucket count bounds write/compaction parallelism and per-bucket
        file size, so a table that grows 100x past its bootstrap sizing
        wants more buckets than it was born with — the Iceberg analogue is
        partition-spec evolution, which likewise applies to data written
        after the change; here the one-shot rewrite migrates everything at
        once so reads never straddle two layouts. MOR delta layers are
        LWW-resolved into the rewrite (the new snapshot starts delta-free
        and read-optimised), table props (merge keys, LWW order) and
        summary offsets carry forward, so CDC appliers resume unchanged
        across the resize. Concurrent writers are rejected by the
        expected-parent check rather than silently dropped."""
        if new_bucket_count < 1:
            raise ValueError(f"bucket count must be >= 1, got {new_bucket_count}")
        snap = self.snapshot()
        # resolve MOR deltas at the old layout, KEEPING delete tombstones —
        # a maintenance rewrite must never weaken delete memory (a stale
        # pre-delete event would otherwise resurrect the key post-resize).
        # Tables that own 'op' as a data column (quarantine) have neither
        # deltas nor tombstones: plain read.
        owns_op = any(f.name == "op" for f in snap.schema.fields)
        merged = self.read(keep_tombstones=not owns_op)
        bucketed = merged.withColumn(
            "bucket",
            _bucket_expr(snap.bucket_keys, new_bucket_count, snap.bucket_fn),
        )
        token = f"c{snap.snapshot_id + 1}-rebucket-{uuid.uuid4().hex[:12]}"
        sort_cols = list(snap.props.get("merge_keys", snap.bucket_keys))
        files = self._write_data_files(
            bucketed, token, sort_cols, n_buckets=new_bucket_count
        )
        out = dict(summary or {})
        # carry stream progress forward: resize must not move the checkpoint
        for k in ("offsets", "epoch", "batch_id"):
            if k in snap.summary and k not in out:
                out[k] = snap.summary[k]
        may_have_tombs = bool(snap.props.get("base_tombstones")) or bool(
            snap.delta_files
        )
        return self._commit(
            "rebucket", files, {}, snap.schema, out,
            expected_parent=snap.snapshot_id, delta_files={},
            bucket_count=new_bucket_count,
            props_update={"base_tombstones": True} if may_have_tombs else None,
        )

    def rewrite_clustered(
        self,
        cluster_by: list[str],
        files_per_bucket: int = 8,
        bits: int = 16,
        summary: dict[str, Any] | None = None,
    ) -> Snapshot:
        """Z-order clustered rewrite — Iceberg ``rewrite_data_files``
        sort-order zorder / Delta ``OPTIMIZE ZORDER BY`` analogue.

        Each bucket's rows are rewritten ordered by the Morton (bit-
        interleaved) code of the ``cluster_by`` columns and range-split
        into ~``files_per_bucket`` files on the code's prefix, so the
        per-file min/max bounds the manifest already keeps become TIGHT on
        EVERY cluster column at once: a point or range predicate on any of
        them prunes most files of every bucket it visits — driver-side,
        before the scan (``read(prune=...)``). Hash bucketing answers key
        lookups; z-clustering answers the secondary-dimension scans
        (time windows, per-entity ranges) hash order scatters.

        Mechanics: one tiny driver agg takes each column's min/max, rows
        rank-scale into ``2^bits`` bins, bits interleave into one long
        (pure column expressions, whole-stage codegen — no UDF), and ONE
        shuffle on (bucket, z-prefix band) clusters the write; file sizes
        follow the data's z-density (Iceberg's binning behaves the same).
        MOR deltas are folded in (tombstones kept — the rewrite must not
        weaken delete memory); cluster columns join ``stats_cols`` so the
        commit harvests their bounds for the new files. Columns must be
        numeric, timestamp, or date. Run as read-optimizing maintenance
        on the compaction cadence."""
        snap = self.snapshot()
        if not cluster_by:
            raise ValueError("cluster_by needs at least one column")
        if bits * len(cluster_by) > 63:
            raise ValueError(
                f"{len(cluster_by)} columns x {bits} bits exceeds a long; "
                "lower bits (e.g. 16 bits supports up to 3 columns)"
            )
        types = {f.name: f.dataType for f in snap.schema.fields}
        missing = [c for c in cluster_by if c not in types]
        if missing:
            raise ValueError(f"cluster columns not in schema: {missing}")
        for c in cluster_by:
            if not isinstance(types[c], (
                T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                T.FloatType, T.DoubleType, T.DecimalType,
                T.TimestampType, T.DateType,
            )):
                raise ValueError(
                    f"cluster column {c} has type {types[c]}: z-ordering "
                    "rank-scales values, so only numeric/timestamp/date "
                    "columns cluster"
                )
        owns_op = any(f.name == "op" for f in snap.schema.fields)
        merged = self.read(keep_tombstones=not owns_op)

        def _num(c: str) -> F.Column:
            col = F.col(c)
            if isinstance(types[c], T.DateType):
                col = col.cast("timestamp")
            return col.cast("double")

        row = merged.agg(*[
            x for c in cluster_by
            for x in (F.min(_num(c)).alias(f"lo_{c}"), F.max(_num(c)).alias(f"hi_{c}"))
        ]).first()
        k, top = len(cluster_by), (1 << bits) - 1
        z = F.lit(0).cast("long")
        for i, c in enumerate(cluster_by):
            lo, hi = row[f"lo_{c}"], row[f"hi_{c}"]
            if lo is None or hi is None or hi == lo:
                n = F.lit(0).cast("long")
            else:
                n = F.least(
                    F.lit(top).cast("long"),
                    F.greatest(
                        F.lit(0).cast("long"),
                        ((_num(c) - F.lit(lo)) / F.lit(hi - lo) * top).cast("long"),
                    ),
                )
            n = F.coalesce(n, F.lit(0).cast("long"))  # NULL values sort first
            for j in range(bits):
                z = z.bitwiseOR(
                    F.shiftleft(F.shiftright(n, j).bitwiseAND(F.lit(1)), j * k + i)
                )
        band_bits = max(1, (files_per_bucket - 1).bit_length())
        band = F.shiftright(z, max(0, bits * k - band_bits))
        bucketed = (
            merged.withColumn(
                "bucket",
                _bucket_expr(snap.bucket_keys, snap.bucket_count, snap.bucket_fn),
            )
            .withColumn("_z", z)
            .withColumn("_zb", band)
        )
        token = f"c{snap.snapshot_id + 1}-zorder-{uuid.uuid4().hex[:12]}"
        commit_rel = os.path.join(_DATA_DIR, token)
        commit_abs = os.path.join(self.path, commit_rel)
        n_zparts = snap.bucket_count * (1 << band_bits)
        zidx = (
            F.pmod(F.col("bucket"), F.lit(snap.bucket_count)) * (1 << band_bits)
            + F.pmod(F.col("_zb"), F.lit(1 << band_bits))
        )
        writer = (
            # exact (bucket, band) -> task placement, same preimage routing
            # as _write_data_files (hash clustering leaves 1/e of the tasks
            # empty and stacks 3-4 groups on the fullest — a pure tail tax)
            bucketed.repartition(n_zparts, _exact_partition_salt(zidx, n_zparts))
            .sortWithinPartitions("bucket", "_zb", "_z")
            .drop("_z", "_zb")  # projection: intra-partition order survives
        )
        writer.write.mode("error").partitionBy("bucket").parquet(commit_abs)
        files = self._list_commit_files(commit_rel, commit_abs)
        out = dict(summary or {})
        for key in ("offsets", "epoch", "batch_id"):
            if key in snap.summary and key not in out:
                out[key] = snap.summary[key]
        may_have_tombs = bool(snap.props.get("base_tombstones")) or bool(
            snap.delta_files
        )
        stats_cols = sorted(
            set(snap.props.get("stats_cols") or []) | set(cluster_by)
        )
        props_update: dict[str, Any] = {
            "stats_cols": stats_cols, "cluster_by": list(cluster_by),
        }
        if may_have_tombs:
            props_update["base_tombstones"] = True
        return self._commit(
            "rewrite_clustered", files, {}, snap.schema, out,
            expected_parent=snap.snapshot_id, delta_files={},
            props_update=props_update,
        )

    def append(
        self,
        df: DataFrame,
        summary: dict[str, Any] | None = None,
        sort_cols: list[str] | None = None,
    ) -> Snapshot:
        """Append-only commit (new files added, nothing rewritten).

        Appends are commutative, so a losing race retries with backoff:
        data files are written ONCE; each attempt re-reads the current
        snapshot and re-derives the carried-forward file map before the
        optimistic commit (Iceberg's append-conflict resolution)."""
        df = self._stamp_writer_ranks(df)
        token = f"c{self.current_snapshot_id() + 1}-{uuid.uuid4().hex[:12]}"
        new_files = self._write_data_files(self._with_bucket(df), token, sort_cols)
        return self._commit_append(new_files, df.schema, summary)

    def append_rows(
        self,
        rows: list[dict[str, Any]],
        summary: dict[str, Any] | None = None,
    ) -> Snapshot:
        """Append a few driver-held rows with NO Spark job: pyarrow writes
        one snappy parquet file per bucket straight into the table layout,
        then the same retried append commit as :meth:`append`. This is the
        per-chunk control-table write (lineage, metrics rows), where a
        Spark write's fixed cost would dwarf the handful of rows.

        Every row must carry exactly the table's columns. Bucket ids are
        computed driver-side (:func:`_row_bucket_fn`), so the table is
        either 1-bucket or bucketed by one int key; anything else raises
        ``ValueError``. A crash between the file write and the commit
        leaves unreferenced files that ``remove_orphan_files`` reclaims."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        snap = self.snapshot()
        schema = snap.schema
        names = {f.name for f in schema.fields}
        for r in rows:
            if set(r) != names:
                raise ValueError(
                    f"append_rows row columns {sorted(r)} differ from the "
                    f"table schema {sorted(names)}"
                )
        bucket_of = _row_bucket_fn(snap)
        by_bucket: dict[int, list[dict[str, Any]]] = {}
        for r in rows:
            by_bucket.setdefault(bucket_of(r), []).append(r)
        # Spark writes every parquet column nullable; match its files
        file_schema = pa.schema(
            [af.with_nullable(True) for af in to_arrow_schema(schema)]
        )
        # every bucket's table is built (and its values checked) before
        # the first file lands, so a bad row leaves nothing on disk
        tables = {
            b: pa.Table.from_arrays(
                [
                    _arrow_column(f, af.type, [r[f.name] for r in brows])
                    for f, af in zip(schema.fields, file_schema)
                ],
                schema=file_schema,
            )
            for b, brows in sorted(by_bucket.items())
        }
        commit_rel = os.path.join(
            _DATA_DIR, f"c{snap.snapshot_id + 1}-{uuid.uuid4().hex[:12]}"
        )
        new_files: dict[str, list[str]] = {}
        for b, table in tables.items():
            rel = os.path.join(
                commit_rel, f"bucket={b}",
                f"part-00000-{uuid.uuid4()}.c000.snappy.parquet",
            )
            path = os.path.join(self.path, rel)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            pq.write_table(table, path, compression="snappy")
            new_files[str(b)] = [rel]
        return self._commit_append(new_files, schema, summary)

    def _commit_append(
        self,
        new_files: dict[str, list[str]],
        df_schema: T.StructType,
        summary: dict[str, Any] | None,
    ) -> Snapshot:
        """Commit already-written files as an append. Each attempt re-reads
        the current snapshot and re-derives the carried-forward file map,
        so a losing race retries with backoff."""

        def attempt() -> Snapshot:
            snap = self.snapshot()
            appended = {
                b: snap.bucket_files.get(b, []) + fs for b, fs in new_files.items()
            }
            schema = self._evolve_schema(
                snap.schema, df_schema, frozen=snap.bucket_keys
            )
            return self._commit(
                "append", appended, snap.bucket_files, schema, summary or {},
                snap.snapshot_id,
            )

        return retry_commit(attempt)

    @staticmethod
    def _promote_type(a: T.DataType, b: T.DataType) -> T.DataType | None:
        """Common type under the Iceberg-spec safe-promotion lattice
        (byte -> short -> int -> long within the integral family,
        float -> double), or ``None`` when the pair is not promotable.
        Narrow parquet files stay valid under the widened read schema —
        Spark's vectorized reader upcasts int32 pages into an int64
        column natively, so widening is a metadata-only commit (no
        rewrite of existing files)."""
        if a == b:
            return a
        for family in (
            (T.ByteType(), T.ShortType(), T.IntegerType(), T.LongType()),
            (T.FloatType(), T.DoubleType()),
        ):
            if a in family and b in family:
                return family[max(family.index(a), family.index(b))]
        return None

    @staticmethod
    def _evolve_schema(
        old: T.StructType,
        new: T.StructType,
        frozen: tuple[str, ...] | list[str] = (),
    ) -> T.StructType:
        """Additive + widening evolution: old columns keep their position,
        genuinely new columns are appended, and an existing column whose
        incoming type sits higher in the safe-promotion lattice
        (int family upward, float -> double — the Iceberg spec rules) is
        widened in place. A narrower incoming type keeps the table's wider
        type (the read schema upcasts the new files). Any other type
        change is rejected.

        ``frozen`` columns (the bucket keys) never change type: the bucket
        id is ``pmod(hash(keys...), N)`` and Spark hashes an int and a
        long of the same value differently, so widening a key in place
        would scatter existing keys across buckets. Widening a key
        requires ``rebucket`` (a full re-hash) with the key pre-cast."""
        fields = list(old.fields)
        have = {f.name for f in fields}
        for f in new.fields:
            if f.name == "op" and f.name not in have:
                continue  # reserved system column (tombstone marker), never
                # promoted into the table schema
            if f.name not in have:
                fields.append(f)
            else:
                i = next(j for j, x in enumerate(fields) if x.name == f.name)
                old_f = fields[i]
                if old_f.dataType == f.dataType:
                    continue
                widened = LakeTable._promote_type(old_f.dataType, f.dataType)
                if widened is None:
                    raise ValueError(
                        f"non-additive schema change on {f.name}: "
                        f"{old_f.dataType} -> {f.dataType}"
                    )
                if widened != old_f.dataType:
                    if f.name in frozen:
                        raise ValueError(
                            f"type widening on bucket key {f.name} "
                            f"({old_f.dataType} -> {widened}) would re-hash "
                            "bucket assignment; rewrite via rebucket() with "
                            "the key explicitly cast instead"
                        )
                    fields[i] = T.StructField(
                        f.name, widened, old_f.nullable or f.nullable
                    )
        return T.StructType(fields)

    def replace_buckets(
        self,
        df: DataFrame,
        affected_buckets: list[int],
        summary: dict[str, Any] | None = None,
        sort_cols: list[str] | None = None,
        expected_parent: int | None = None,
        new_schema: T.StructType | None = None,
        props_update: dict[str, Any] | None = None,
    ) -> Snapshot:
        """Copy-on-write replacement of a bucket subset: ``df`` holds the new
        full content of ``affected_buckets``; every other bucket is carried
        forward by reference (no data movement). This is the physical half of
        MERGE INTO. ``df`` may carry the reserved ``op`` tombstone column
        (kept in the data files, never promoted into the table schema)."""
        snap = self.snapshot()
        token = f"c{snap.snapshot_id + 1}-{uuid.uuid4().hex[:12]}"
        new_files = self._write_data_files(self._with_bucket(df), token, sort_cols)
        # an affected bucket whose merged content is empty must drop its files
        for b in affected_buckets:
            new_files.setdefault(str(b), [])
        affected_set = set(affected_buckets)
        carried = {
            b: fs for b, fs in snap.bucket_files.items() if int(b) not in affected_set
        }
        # the rewrite subsumes any delta layers on the affected buckets
        deltas = {
            b: fs for b, fs in snap.delta_files.items() if int(b) not in affected_set
        }
        schema = new_schema or self._evolve_schema(
            snap.schema, df.schema, frozen=snap.bucket_keys
        )
        return self._commit(
            "merge", new_files, carried, schema, summary or {},
            expected_parent if expected_parent is not None else snap.snapshot_id,
            delta_files=deltas,
            props_update=props_update,
        )

    def write_delta_files(
        self,
        df: DataFrame,
        sort_cols: list[str] | None = None,
        pre_partitioned: bool = False,
    ) -> tuple[str, dict[str, list[str]]]:
        """Phase 1 of a merge-on-read upsert: write ``df`` (pre-deduped
        winner rows with an ``op`` tombstone column) as uncommitted delta
        files. Returns ``(commit_dir_abs, bucket -> relative files)``; the
        files are invisible until :meth:`commit_delta` publishes them, so
        the caller may inspect them (e.g. per-bucket stats for lineage /
        offset watermarks) BEFORE deciding the commit summary — two-phase
        commit, crash-safe: an orphaned phase-1 dir is never referenced by
        any snapshot and is swept by ``expire_snapshots``."""
        snap = self.snapshot()
        token = f"d{snap.snapshot_id + 1}-{uuid.uuid4().hex[:12]}"
        new_files = self._write_data_files(
            self._with_bucket(df), token, sort_cols, pre_partitioned=pre_partitioned
        )
        return os.path.join(self.path, _DATA_DIR, token), new_files

    def commit_delta(
        self,
        new_files: dict[str, list[str]],
        df_schema: T.StructType,
        summary: dict[str, Any] | None = None,
        expected_parent: int | None = None,
    ) -> Snapshot:
        """Phase 2: publish delta files from :meth:`write_delta_files` as a
        new delta layer on their buckets (atomic snapshot flip)."""
        snap = self.snapshot()
        deltas = dict(snap.delta_files)
        for b, fs in new_files.items():
            deltas[b] = deltas.get(b, []) + fs
        # 'op' (tombstone marker) and '_'-prefixed helper columns (e.g. the
        # _del stats column) are delta-file internals, not table schema
        visible = T.StructType(
            [f for f in df_schema.fields
             if f.name != "op" and not f.name.startswith("_")]
        )
        schema = self._evolve_schema(snap.schema, visible, frozen=snap.bucket_keys)
        return self._commit(
            "delta-append", {}, snap.bucket_files, schema, summary or {},
            expected_parent if expected_parent is not None else snap.snapshot_id,
            delta_files=deltas,
        )

    def append_delta(
        self,
        df: DataFrame,
        summary: dict[str, Any] | None = None,
        sort_cols: list[str] | None = None,
        expected_parent: int | None = None,
    ) -> Snapshot:
        """Merge-on-read upsert: commit ``df`` — pre-deduped winner rows (one
        per merge key) carrying an ``op`` column where ``'D'`` marks a
        key-level delete tombstone — as a new delta layer on its buckets.
        Base files are untouched; ``read`` resolves, ``compact`` amortises.
        This is the Iceberg v2 equality-delete write path: per batch the
        table gains O(changed keys) bytes, not O(bucket size)."""
        df = self._stamp_writer_ranks(df)
        _, new_files = self.write_delta_files(df, sort_cols)
        return self.commit_delta(new_files, df.schema, summary, expected_parent)

    # --------------------------------------------------- write-audit-publish
    # Iceberg's WAP workflow (spark.wap.id staged snapshots): a batch is
    # written and audited while INVISIBLE to readers, then published by a
    # metadata-only commit — or abandoned without ever having existed.
    # Reference analogue: files land in a wip/ area and are only moved into
    # the indexed hierarchy after the checker passes (the move-after-check
    # convention across the harvest scripts); here the "move" is one atomic
    # snapshot flip and the audit reads the EXACT bytes that will publish.

    def _staged_path(self, wap_id: str) -> str:
        return os.path.join(self._lake, f"staged-{wap_id}.json")

    def stage_files(
        self,
        new_files: dict[str, list[str]],
        df_schema: T.StructType,
        wap_id: str,
        summary: dict[str, Any] | None = None,
    ) -> dict[str, Any]:
        """Record already-written (uncommitted) delta files as a STAGED
        batch under ``wap_id``. The manifest pins the base snapshot and the
        bucket layout so ``publish_staged`` can detect a layout change; the
        wap_id is claimed with O_EXCL link semantics (a duplicate stage
        loses and its files are removed). Staged files are protected from
        ``remove_orphan_files`` until published or abandoned."""
        if not wap_id or wap_id != os.path.basename(wap_id) or wap_id.startswith("."):
            raise ValueError(f"invalid wap_id {wap_id!r}")
        snap = self.snapshot()
        man = {
            "wap_id": wap_id,
            "base_id": snap.snapshot_id,
            "bucket_count": snap.bucket_count,
            "bucket_fn": snap.bucket_fn,
            "new_files": {b: list(fs) for b, fs in new_files.items() if fs},
            "schema": df_schema.jsonValue(),
            "summary": summary or {},
        }
        tmp = os.path.join(self._lake, f".staged.{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            json.dump(man, f, default=_stat_json)
        try:
            os.link(tmp, self._staged_path(wap_id))  # O_EXCL claim
        except FileExistsError:
            os.remove(tmp)
            self._remove_staged_data(man["new_files"])
            raise ValueError(f"wap_id {wap_id!r} is already staged") from None
        os.remove(tmp)
        return man

    def stage_delta(
        self,
        df: DataFrame,
        wap_id: str,
        summary: dict[str, Any] | None = None,
        sort_cols: list[str] | None = None,
        pre_partitioned: bool = False,
    ) -> dict[str, Any]:
        """WAP phase 1: write ``df`` (pre-deduped winner rows with an ``op``
        tombstone column — the :meth:`append_delta` shape) as a staged,
        reader-invisible delta batch. Audit with :meth:`read_staged`, make
        visible with :meth:`publish_staged`, discard with
        :meth:`abandon_staged`."""
        _, new_files = self.write_delta_files(df, sort_cols, pre_partitioned)
        return self.stage_files(new_files, df.schema, wap_id, summary)

    def staged_manifest(self, wap_id: str) -> dict[str, Any]:
        try:
            with open(self._staged_path(wap_id)) as f:
                return json.load(f)
        except FileNotFoundError:
            raise KeyError(
                f"no staged batch {wap_id!r} on table {self.path} "
                f"(staged: {self.list_staged()})"
            ) from None

    def list_staged(self) -> list[str]:
        return sorted(
            fn[len("staged-"):-len(".json")]
            for fn in os.listdir(self._lake)
            if fn.startswith("staged-") and fn.endswith(".json")
        )

    def _staged_snapshot(self, man: dict[str, Any]) -> Snapshot:
        """Ephemeral snapshot = base snapshot + the staged delta overlay —
        never written to the snapshot chain; exists so the audit reads
        through the ordinary LWW/tombstone resolution path."""
        base = self.snapshot(man["base_id"])
        deltas = {b: list(fs) for b, fs in base.delta_files.items()}
        for b, fs in man["new_files"].items():
            deltas[b] = deltas.get(b, []) + list(fs)
        staged = T.StructType.fromJson(man["schema"])
        visible = T.StructType(
            [f for f in staged.fields
             if f.name != "op" and not f.name.startswith("_")]
        )
        schema = self._evolve_schema(base.schema, visible, frozen=base.bucket_keys)
        return Snapshot(
            snapshot_id=base.snapshot_id,
            parent_id=base.parent_id,
            operation="wap-staged",
            schema_json=schema.jsonValue(),
            bucket_count=base.bucket_count,
            bucket_keys=base.bucket_keys,
            bucket_files=base.bucket_files,
            summary=dict(man.get("summary", {})),
            delta_files={b: fs for b, fs in deltas.items() if fs},
            props=base.props,
            file_col_stats=base.file_col_stats,
        )

    def read_staged(self, wap_id: str, **kwargs: Any) -> DataFrame:
        """Audit read: the table AS IF the staged batch were published over
        its base snapshot — the exact bytes :meth:`publish_staged` will make
        visible, resolved through the same LWW/tombstone plan as any read.
        Ordinary readers never see this state."""
        return self.read(
            snapshot_id=self._staged_snapshot(self.staged_manifest(wap_id)),
            **kwargs,
        )

    @staticmethod
    def _merge_wap_summary(
        cur: dict[str, Any], staged: dict[str, Any]
    ) -> dict[str, Any]:
        """Publish-time summary: the staged batch's summary, with offsets /
        batch_id / epoch MAX-merged against the current snapshot so a
        publish that lands after an intervening commit never moves the
        resume watermark backwards (exactly-once depends on last_lsn being
        monotonic across commits)."""
        out = dict(staged)
        co, so = cur.get("offsets"), staged.get("offsets")
        if co and so:
            pp = dict(co.get("per_partition", {}))
            for b, v in so.get("per_partition", {}).items():
                old = pp.get(b)
                pp[b] = v if old is None else max(int(old), int(v))
            out["offsets"] = {
                "last_lsn": max(co.get("last_lsn", -1), so.get("last_lsn", -1)),
                "per_partition": pp,
            }
        elif co:
            out["offsets"] = co
        for k in ("batch_id", "epoch"):
            if k in cur and k in out:
                out[k] = max(cur[k], out[k])
            elif k in cur:
                out[k] = cur[k]
        return out

    def publish_staged(self, wap_id: str) -> Snapshot:
        """WAP phase 3: make the staged batch visible — one metadata-only
        snapshot commit, no data movement. Fast-forward when the table has
        not moved since the stage; cherry-pick onto the NEW current when it
        has (safe for delta layers: LWW ranks rows by ``order_cols``, never
        by file order, and tombstones are durable through intervening
        compaction / CoW rewrites — so overlaying the staged files on any
        later snapshot resolves to the same winners). A bucket-layout
        change (rebucket) invalidates the staged files' bucket assignment
        and refuses with instructions to re-stage. Offsets in the staged
        summary publish atomically with the files (and are max-merged
        against the current summary), so a CDC batch staged through this
        path keeps the engine's exactly-once contract."""
        man = self.staged_manifest(wap_id)
        staged_schema = T.StructType.fromJson(man["schema"])
        staged_files = {f for fs in man["new_files"].values() for f in fs}
        if staged_files & {f for s in self.all_snapshots() for f in s.all_files()}:
            # a prior publish committed these files but crashed before
            # removing the manifest — republish is the manifest removal
            os.remove(self._staged_path(wap_id))
            return self.snapshot()

        def attempt() -> Snapshot:
            cur = self.snapshot()
            if (
                cur.bucket_count != man["bucket_count"]
                or cur.bucket_fn != man["bucket_fn"]
            ):
                raise ValueError(
                    f"bucket layout changed since {wap_id!r} was staged "
                    f"({man['bucket_count']}/{man['bucket_fn']} -> "
                    f"{cur.bucket_count}/{cur.bucket_fn}); abandon_staged "
                    "and re-stage against the current layout"
                )
            summary = self._merge_wap_summary(
                cur.summary, man.get("summary", {})
            )
            summary["wap_id"] = wap_id
            return self.commit_delta(
                man["new_files"], staged_schema, summary,
                expected_parent=cur.snapshot_id,
            )

        snap = retry_commit(attempt)
        os.remove(self._staged_path(wap_id))
        return snap

    def abandon_staged(self, wap_id: str) -> int:
        """WAP reject: delete the staged batch's data files and manifest —
        the batch never existed as far as any snapshot is concerned.
        Returns the number of data files removed. If any staged file is
        referenced by a snapshot (a prior publish committed the batch but
        crashed before removing the manifest), only the stale manifest is
        removed — abandoning after publish must never delete live data."""
        man = self.staged_manifest(wap_id)
        live = {f for s in self.all_snapshots() for f in s.all_files()}
        staged_files = {f for fs in man["new_files"].values() for f in fs}
        if staged_files & live:
            os.remove(self._staged_path(wap_id))
            return 0
        n = self._remove_staged_data(man["new_files"])
        os.remove(self._staged_path(wap_id))
        return n

    # ------------------------------------------------------------------ tags
    # Named snapshot refs (Iceberg tags): a dataset-release workflow's
    # reproducibility handle — "train run R used tag v3" stays readable no
    # matter how many commits land after it, because a tagged snapshot is
    # retained through expire_snapshots until the tag is dropped.

    def _tag_path(self, name: str) -> str:
        return os.path.join(self._lake, f"tag-{name}.json")

    def tag(self, name: str, snapshot_id: int | None = None) -> int:
        """Create an immutable named ref to a snapshot (default: current).
        Re-tagging an existing name refuses — drop_tag first (an audit
        trail should never silently move)."""
        if not name or name != os.path.basename(name) or name.startswith("."):
            raise ValueError(f"invalid tag name {name!r}")
        sid = self.current_snapshot_id() if snapshot_id is None else snapshot_id
        try:
            self.snapshot(sid)  # must exist (and not already be expired)
        except FileNotFoundError:
            raise ValueError(
                f"snapshot {sid} does not exist on table {self.path} "
                f"(expired or never committed) — cannot tag it"
            ) from None
        tmp = os.path.join(self._lake, f".tag.{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            json.dump({"name": name, "snapshot_id": sid}, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, self._tag_path(name))  # O_EXCL claim
        except FileExistsError:
            os.remove(tmp)
            raise ValueError(
                f"tag {name!r} already exists (snapshot "
                f"{self.tags()[name]}); drop_tag first"
            ) from None
        os.remove(tmp)
        return sid

    def tags(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for fn in os.listdir(self._lake):
            if fn.startswith("tag-") and fn.endswith(".json"):
                with open(os.path.join(self._lake, fn)) as f:
                    d = json.load(f)
                out[d["name"]] = int(d["snapshot_id"])
        return out

    def drop_tag(self, name: str) -> None:
        try:
            os.remove(self._tag_path(name))
        except FileNotFoundError:
            raise KeyError(
                f"no tag {name!r} on table {self.path} "
                f"(tags: {sorted(self.tags())})"
            ) from None

    def read_tag(self, name: str, **kwargs: Any) -> DataFrame:
        """Read the table AS OF a named tag (``VERSION AS OF`` by name)."""
        tags = self.tags()
        if name not in tags:
            raise KeyError(
                f"no tag {name!r} on table {self.path} (tags: {sorted(tags)})"
            )
        return self.read(snapshot_id=tags[name], **kwargs)

    # -------------------------------------------------------------- branches

    def _branch_path(self, name: str) -> str:
        return os.path.join(self._lake, f"BRANCH-{name}")

    def create_branch(self, name: str, snapshot_id: int | None = None) -> int:
        """Fork a named branch at a snapshot (default: this ref's head).
        A branch is ONE pointer file over the shared snapshot DAG — zero
        data copied (Iceberg/Paimon branch refs). Open it with
        ``LakeTable(spark, path, branch=name)``: every commit verb then
        advances the branch head; main is untouched until
        ``fast_forward``. The WAP staging area covers single-batch
        audit-then-publish; a branch carries a multi-commit line of work
        (backfills, migration dry-runs) with the full verb set available
        on it."""
        if not name or name != os.path.basename(name) or name.startswith("."):
            raise ValueError(f"invalid branch name {name!r}")
        sid = self.current_snapshot_id() if snapshot_id is None else snapshot_id
        try:
            self.snapshot(sid)
        except FileNotFoundError:
            raise ValueError(
                f"snapshot {sid} does not exist on table {self.path} — "
                "cannot branch there"
            ) from None
        tmp = os.path.join(self._lake, f".branch.{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            f.write(str(sid))
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, self._branch_path(name))  # O_EXCL claim
        except FileExistsError:
            os.remove(tmp)
            raise ValueError(
                f"branch {name!r} already exists (head "
                f"{self.branches()[name]}); drop_branch first"
            ) from None
        os.remove(tmp)
        return sid

    def branches(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for fn in os.listdir(self._lake):
            if fn.startswith("BRANCH-"):
                with open(os.path.join(self._lake, fn)) as f:
                    out[fn[len("BRANCH-"):]] = int(f.read().strip())
        return out

    def branch_table(self, name: str) -> "LakeTable":
        """Open this table ON the named branch."""
        return LakeTable(self.spark, self.path, branch=name)

    def _ancestry_ids(self, head: int) -> set[int]:
        out: set[int] = set()
        sid: int | None = head
        while sid is not None and sid not in out:
            try:
                s = self.snapshot(sid)
            except FileNotFoundError:
                break
            out.add(sid)
            sid = s.parent_id
        return out

    def fast_forward(self, name: str) -> int:
        """Advance MAIN to the branch head — the merge verb for a branch
        whose base is still main's head's ancestor (no divergence). A
        diverged main refuses: replay the branch's work onto current main
        instead (the engine's apply loop is the rebase), or rollback main
        first. Metadata-only, atomic."""
        if self.branch is not None:
            raise ValueError("fast_forward runs on the MAIN handle")
        heads = self.branches()
        if name not in heads:
            raise KeyError(
                f"no branch {name!r} on table {self.path} "
                f"(branches: {sorted(heads)})"
            )
        head = heads[name]
        cur = self.current_snapshot_id()
        if cur == head:
            return head
        if cur not in self._ancestry_ids(head):
            raise CommitConflict(
                f"branch {name!r} (head {head}) does not contain main's "
                f"head {cur} — diverged; fast-forward impossible"
            )
        self._commit_flip(head, cur)
        return head

    def drop_branch(self, name: str) -> None:
        try:
            os.remove(self._branch_path(name))
        except FileNotFoundError:
            raise KeyError(
                f"no branch {name!r} on table {self.path} "
                f"(branches: {sorted(self.branches())})"
            ) from None

    # ------------------------------------------------------------- consumers

    def _consumer_path(self, name: str) -> str:
        return os.path.join(self._lake, f"consumer-{name}.json")

    def register_consumer(self, name: str, snapshot_id: int | None = None) -> int:
        """Register a named downstream incremental reader at a starting
        position (default: current snapshot — 'consume changes from now
        on'; pass 0 to replay the table's whole history as a changelog).

        Paimon's consumer-id mechanism: the consumer's position lives IN
        the table's metadata, so (a) a restarted consumer resumes where it
        acked, with no client-side checkpoint to lose, and (b)
        ``expire_snapshots`` retains every position snapshot — the
        changelog a lagging consumer still needs can never be GC'd out
        from under it. Position files are O(1) metadata; nothing scales
        with consumer count but one JSON file each."""
        if not name or name != os.path.basename(name) or name.startswith("."):
            raise ValueError(f"invalid consumer name {name!r}")
        sid = self.current_snapshot_id() if snapshot_id is None else snapshot_id
        try:
            self.snapshot(sid)
        except FileNotFoundError:
            raise ValueError(
                f"snapshot {sid} does not exist on table {self.path} — "
                "cannot start a consumer there"
            ) from None
        tmp = os.path.join(self._lake, f".consumer.{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            json.dump({"name": name, "snapshot_id": sid}, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, self._consumer_path(name))  # O_EXCL claim
        except FileExistsError:
            os.remove(tmp)
            raise ValueError(
                f"consumer {name!r} already registered (at snapshot "
                f"{self.consumers()[name]}); drop_consumer first"
            ) from None
        os.remove(tmp)
        return sid

    def consumers(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for fn in os.listdir(self._lake):
            if fn.startswith("consumer-") and fn.endswith(".json"):
                with open(os.path.join(self._lake, fn)) as f:
                    d = json.load(f)
                out[d["name"]] = int(d["snapshot_id"])
        return out

    def consume(
        self, name: str, with_before: bool = False,
    ) -> tuple[DataFrame, int]:
        """The named consumer's pending changelog: ``(changes, to_id)``
        where ``changes`` is ``changes_between(position, current)`` and
        ``to_id`` is the snapshot the consumer should ``ack_consumer`` to
        AFTER it has durably processed the batch — consume/ack is the
        at-least-once handshake (a crash between the two re-reads the
        same window; the diff-shaped changelog is idempotent to re-apply,
        same as the engine's own chunk replay)."""
        pos = self.consumers().get(name)
        if pos is None:
            raise KeyError(
                f"no consumer {name!r} on table {self.path} "
                f"(consumers: {sorted(self.consumers())})"
            )
        to_id = self.current_snapshot_id()
        return self.changes_between(pos, to_id, with_before=with_before), to_id

    def ack_consumer(self, name: str, snapshot_id: int) -> None:
        """Advance the consumer's position (monotonic: a stale ack from a
        zombie consumer instance cannot rewind a newer one's progress).
        The read-check-replace runs under a per-consumer flock — two
        concurrent acks (zombie + live instance) would otherwise both
        pass the rewind check and the stale ``os.replace`` could land
        last, rewinding exactly the position the guard protects (the
        same CAS discipline as ``_commit_flip``)."""
        self.snapshot(snapshot_id)  # must exist
        lock_path = self._consumer_path(name) + ".flock"
        with open(lock_path, "w") as lk:
            fcntl.flock(lk, fcntl.LOCK_EX)
            try:
                pos = self.consumers().get(name)
                if pos is None:
                    raise KeyError(
                        f"no consumer {name!r} on table {self.path} "
                        f"(consumers: {sorted(self.consumers())})"
                    )
                if snapshot_id < pos:
                    raise ValueError(
                        f"consumer {name!r} ack {snapshot_id} would rewind "
                        f"its position {pos} — stale ack rejected"
                    )
                tmp = os.path.join(
                    self._lake, f".consumer.{uuid.uuid4().hex}.tmp"
                )
                with open(tmp, "w") as f:
                    json.dump({"name": name, "snapshot_id": snapshot_id}, f)
                    f.flush()
                    os.fsync(f.fileno())
                os.replace(tmp, self._consumer_path(name))  # atomic flip
            finally:
                fcntl.flock(lk, fcntl.LOCK_UN)

    def drop_consumer(self, name: str) -> None:
        try:
            os.remove(self._consumer_path(name))
        except FileNotFoundError:
            raise KeyError(
                f"no consumer {name!r} on table {self.path} "
                f"(consumers: {sorted(self.consumers())})"
            ) from None

    # -------------------------------------------------------------- rollback

    def rollback(self, snapshot_id: int) -> Snapshot:
        """Roll the table back to an earlier snapshot's state as a NEW
        commit (Iceberg ``rollback_to_snapshot``) — the operator's recovery
        verb after a bad batch LANDS (the WAP audit gate catches bad
        batches before publish; rollback un-does one the audit missed).

        Metadata-only: the new snapshot copies the target's entire content
        (data files, delta layers, tombstones, schema, bucket layout,
        props, manifest stats), so no data moves and the rolled-back-over
        commits stay readable via time travel until ``expire_snapshots``
        sweeps them. The summary — including the resume ``offsets`` — is
        the TARGET's: the committed watermark regresses deliberately, so
        the next replay re-applies the rolled-back events (idempotent
        under LWW; gaps are impossible because the watermark and the
        state move in the SAME atomic commit, exactly like apply).

        Reference analogue: the manual "remove the bad files and rerun the
        harvester from the last good date" recovery loop
        (``lib/python/generate_netcdf_aims.py`` reprocessing paths) — here
        it is one metadata flip plus the normal resume."""
        cur = self.current_snapshot_id()
        if snapshot_id >= cur:
            raise ValueError(
                f"rollback target {snapshot_id} is not an ancestor of "
                f"current snapshot {cur} — rollback only moves backwards"
            )
        try:
            target = self.snapshot(snapshot_id)
        except FileNotFoundError:
            raise ValueError(
                f"snapshot {snapshot_id} has been expired — its data files "
                f"are gone; earliest retained: "
                f"{self.snapshots()[0].snapshot_id}"
            ) from None
        # ancestry membership, not id comparison: with branches the id
        # space is DAG-global, so a smaller id is not necessarily on this
        # ref's line
        if snapshot_id not in self._ancestry_ids(cur):
            raise ValueError(
                f"rollback target {snapshot_id} is not an ancestor of "
                f"current snapshot {cur} — rollback only moves backwards"
            )

        def attempt() -> Snapshot:
            parent = self.current_snapshot_id()
            snap = Snapshot(
                snapshot_id=self._next_snapshot_id(),
                parent_id=parent,
                operation="rollback",
                schema_json=target.schema_json,
                bucket_count=target.bucket_count,
                bucket_keys=target.bucket_keys,
                bucket_files=target.bucket_files,
                summary={**target.summary,
                         "rollback_of": parent, "rollback_to": snapshot_id},
                delta_files=target.delta_files,
                props=target.props,
                file_col_stats=target.file_col_stats,
            )
            self._write_snapshot(self._lake, snap)
            self._commit_flip(snap.snapshot_id, parent)
            return snap

        return retry_commit(attempt)

    def _remove_staged_data(self, new_files: dict[str, list[str]]) -> int:
        """Remove a staged batch's data files, then their commit dirs
        wholesale (a stage's token dir is exclusively its own, so the
        ``_SUCCESS`` marker and checksum sidecars go with it). Returns the
        number of data files that existed."""
        n = 0
        token_dirs: set[str] = set()
        for fs in new_files.values():
            for rel in fs:
                p = os.path.join(self.path, rel)
                if os.path.exists(p):
                    os.remove(p)
                    n += 1
                # rel = data/<token>/bucket=N/file.parquet -> the token dir
                parts = rel.split(os.sep)
                if len(parts) >= 2:
                    token_dirs.add(os.path.join(self.path, parts[0], parts[1]))
        for d in token_dirs:
            if os.path.isdir(d):
                shutil.rmtree(d, ignore_errors=True)
        return n

    def file_stats(
        self, files_by_bucket: dict[str, list[str]]
    ) -> dict[str, dict[str, Any]]:
        """Per-bucket stats straight from parquet footers — row counts and
        exact INT64/timestamp column min/max/null-count, no Spark job. The
        apply loop writes a ``_del`` marker column (1 on tombstones, NULL
        otherwise) into delta files, so ``num_rows - null_count(_del)``
        is the exact delete count per bucket. Requires
        ``spark.sql.parquet.outputTimestampType=TIMESTAMP_MICROS`` (set in
        session.py) — legacy INT96 timestamps carry no usable stats."""
        import pyarrow.parquet as pq

        out: dict[str, dict[str, Any]] = {}
        for b, rels in files_by_bucket.items():
            agg: dict[str, Any] = {
                "n_rows": 0, "n_deletes": 0,
                "min_lsn": None, "max_lsn": None,
                "min_ts": None, "max_ts": None,
            }
            for rel in rels:
                md = pq.ParquetFile(os.path.join(self.path, rel)).metadata
                agg["n_rows"] += md.num_rows
                idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
                for rg in range(md.num_row_groups):
                    row_group = md.row_group(rg)
                    if "lsn" in idx:
                        st = row_group.column(idx["lsn"]).statistics
                        if st is not None and st.has_min_max:
                            agg["min_lsn"] = st.min if agg["min_lsn"] is None else min(agg["min_lsn"], st.min)
                            agg["max_lsn"] = st.max if agg["max_lsn"] is None else max(agg["max_lsn"], st.max)
                    if "ts" in idx:
                        st = row_group.column(idx["ts"]).statistics
                        if st is not None and st.has_min_max:
                            agg["min_ts"] = st.min if agg["min_ts"] is None else min(agg["min_ts"], st.min)
                            agg["max_ts"] = st.max if agg["max_ts"] is None else max(agg["max_ts"], st.max)
                    if "_del" in idx:
                        st = row_group.column(idx["_del"]).statistics
                        if st is not None:
                            agg["n_deletes"] += row_group.column(idx["_del"]).num_values if st.null_count is None else (row_group.num_rows - st.null_count)
            out[b] = agg
        return out

    def _rewrite_buckets_local(
        self,
        snap: "Snapshot",
        targets: list[int],
        token: str,
        keep_tombstones: bool = True,
        expire_before: Any | None = None,
        max_task_bytes: int | None = None,
    ) -> tuple[dict[str, list[str]], int]:
        """Zero-shuffle per-bucket rewrite: one Arrow map task per bucket
        reads that bucket's base+delta files, resolves last-writer-wins
        over ``order_cols``, and writes one key-sorted snappy parquet file
        under the fresh commit dir. Delete winners are RETAINED as
        ``op='D'`` rows by default (tombstone durability — a stale
        out-of-order event must keep losing to the delete after
        compaction); ``keep_tombstones=False`` drops them all and
        ``expire_before`` (a timestamp) drops only tombstones whose
        ``order_cols[0]`` is older — the explicit GC horizon. Returns
        (bucket -> relative file paths, tombstones kept). Runs as
        ``mapInPandas`` over a tiny (bucket, files...) frame — vectorized
        Arrow end to end, the only driver round-trip is the O(buckets)
        result list (same discipline as the LSN offset collect in
        change_capture)."""
        if snap.props.get("merge_engine") in ("partial_update", "aggregation"):
            raise ValueError(
                f"table {self.path} is a "
                f"{snap.props['merge_engine']} table: the local "
                "Arrow rewrite folds plain LWW only — compact via "
                "strategy='shuffle' (compact() routes there automatically)"
            )
        keys = snap.props.get("merge_keys", snap.bucket_keys)
        order = snap.props.get("order_cols")
        if not order:
            raise ValueError(
                f"table {self.path} has delta layers but no order_cols prop"
            )
        # first_row tables keep the FIRST of each sorted key run instead of
        # the last — the only difference between the FWW and LWW rewrites
        first_row = snap.props.get("merge_engine") == "first_row"
        cols = [f.name for f in snap.schema.fields]
        ts_col = order[0]
        commit_rel = os.path.join(_DATA_DIR, token)
        commit_abs = os.path.join(self.path, commit_rel)
        root = self.path
        plain = [
            (
                b,
                [os.path.join(root, f) for f in snap.bucket_files.get(str(b), [])],
                [os.path.join(root, f) for f in snap.delta_files.get(str(b), [])],
            )
            for b in targets
        ]

        def _bucket_bytes(files: list[str]) -> int:
            n = 0
            for f in files:
                try:
                    n += os.path.getsize(f)
                except OSError:
                    pass
            return n

        sizes = {r[0]: _bucket_bytes(r[1] + r[2]) for r in plain}
        # Hot-bucket sharding: a whole-bucket task is a parallelism CEILING
        # — at 32 cores the 4 hot-conversation buckets (~4x median bytes)
        # alone held the compaction wall above the apply wall. Buckets over
        # the task ceiling split into k key-hash shards; every shard reads
        # the bucket's files but keeps only its own keys, so LWW stays
        # per-key exact (a key's rows land in exactly one shard) at the
        # cost of re-reading the hot bucket k times — the same
        # split-oversized-file-groups call Iceberg's rewrite_data_files
        # makes. Default ceiling: 2x the median bucket's bytes (and never
        # below 32 MiB), so uniform tables keep one task per bucket.
        if max_task_bytes is None:
            nonzero = sorted(s for s in sizes.values() if s > 0) or [0]
            med = nonzero[len(nonzero) // 2]
            max_task_bytes = max(32 << 20, 2 * med)
        rows = []
        for b, base_files, delta_files in plain:
            k = min(16, max(1, -(-sizes[b] // max_task_bytes)))
            for i in range(k):
                rows.append((b, base_files, delta_files, i, k))

        # Task placement: exactly ONE (bucket, shard) per partition,
        # biggest first. A hash repartition over the bucket column lands
        # 64 tasks in 64 partitions balls-in-bins style — the fullest task
        # carries 3-4 buckets while a third of the slots sit empty, a
        # straggler tax invisible at 1 core and 15-20% per wave at high
        # parallelism. parallelize with numSlices == len(rows) pins one
        # task per partition; sorting by on-disk bytes descending is LPT
        # scheduling — big tasks start in the first wave, small ones pack
        # the tail.
        rows.sort(key=lambda r: sizes[r[0]] // r[4], reverse=True)
        tasks = self.spark.createDataFrame(
            self.spark.sparkContext.parallelize(rows, max(1, len(rows))),
            "bucket int, base array<string>, delta array<string>, "
            "shard int, n_shards int",
        )

        def rewrite(batches):
            import numpy as np
            import pandas as pd
            import pyarrow as pa
            import pyarrow.compute as pc
            import pyarrow.parquet as pq

            for pdf in batches:
                out = []
                for b, base_files, delta_files, shard, n_shards in zip(
                    pdf["bucket"], pdf["base"], pdf["delta"],
                    pdf["shard"], pdf["n_shards"],
                ):
                    parts = [pq.read_table(f) for f in list(base_files)]
                    parts += [pq.read_table(f) for f in list(delta_files)]
                    # "permissive" (vs "default") additionally widens
                    # numerics across files — pre-widen files keep their
                    # narrow physical type (type widening is metadata-only,
                    # mirroring the Spark read path's upcast), so a bucket
                    # may legitimately mix int32 and int64 pages
                    tbl = pa.concat_tables(parts, promote_options="permissive")
                    missing = [c for c in cols if c not in tbl.column_names]
                    if missing:
                        raise ValueError(
                            f"bucket {b}: columns {missing} absent from every "
                            "file; use compact(strategy='shuffle')"
                        )
                    # winner per key = max over (order_cols), exactly the
                    # max_by(struct(order)) the read path uses: stable
                    # ascending sort on keys+order, keep the last of each
                    # key run (lsn is a total order, so ties cannot occur)
                    kdf = tbl.select(list(keys) + list(order)).to_pandas()
                    if bool(kdf[list(keys)].isna().any().any()):
                        # run-detection below would split a NULL key into
                        # per-row groups where the groupBy path unifies them
                        # (CDC validate quarantines null keys upstream, but
                        # compact() is callable on any table)
                        raise ValueError(
                            f"bucket {b}: NULL merge key present; "
                            "use compact(strategy='shuffle')"
                        )
                    if int(n_shards) > 1:
                        # hot-bucket shard: keep only this task's keys.
                        # hash_pandas_object is deterministic (fixed
                        # default hash key), so every shard computes the
                        # same key -> shard assignment and a key's rows
                        # land in exactly ONE shard — per-key LWW intact
                        h = pd.util.hash_pandas_object(
                            kdf[list(keys)], index=False
                        ).to_numpy()
                        mask = (h % np.uint64(int(n_shards))) == np.uint64(
                            int(shard)
                        )
                        if not mask.any():
                            out.append((int(b), None, 0, 0))
                            continue
                        tbl = tbl.filter(pa.array(mask))
                        kdf = kdf[mask].reset_index(drop=True)
                    sorted_kdf = kdf.sort_values(
                        list(keys) + list(order), kind="stable"
                    )
                    karr = sorted_kdf[list(keys)].to_numpy()
                    if len(karr) == 0:
                        out.append((int(b), None, 0, 0))
                        continue
                    run_break = (karr[1:] != karr[:-1]).any(axis=1)
                    is_win = (
                        np.append(True, run_break)
                        if first_row
                        else np.append(run_break, True)
                    )
                    win = tbl.take(pa.array(sorted_kdf.index.to_numpy()[is_win]))
                    n_tomb = 0
                    if "op" in win.column_names:
                        is_tomb = pc.fill_null(
                            pc.equal(win.column("op"), pa.scalar("D")), False
                        )
                        if not keep_tombstones:
                            win = win.filter(pc.invert(is_tomb))
                        elif expire_before is not None:
                            # naive horizon == session wall clock (UTC,
                            # pinned in session.py); cast to the column's
                            # exact timestamp type (files carry tz=UTC)
                            _h = pa.scalar(
                                expire_before, type=win.column(ts_col).type
                            )
                            stale = pc.and_(
                                is_tomb,
                                pc.fill_null(
                                    pc.less(win.column(ts_col), _h), False
                                ),
                            )
                            win = win.filter(pc.invert(stale))
                        if win.num_rows and "op" in win.column_names:
                            n_tomb = int(
                                pc.sum(
                                    pc.fill_null(
                                        pc.equal(win.column("op"), pa.scalar("D")),
                                        False,
                                    ).cast(pa.int64())
                                ).as_py()
                                or 0
                            )
                    keep_cols = cols + (
                        ["op"] if n_tomb and "op" in win.column_names else []
                    )
                    win = win.select(keep_cols)
                    if win.num_rows == 0:
                        out.append((int(b), None, 0, 0))
                        continue
                    # Portability: never echo an input file's physical
                    # timestamp quirk into the compacted output. Delta
                    # files written under a session left at the INT96
                    # default read back as timestamp[ns]; writing that
                    # out produces TIMESTAMP(NANOS) parquet, which
                    # Spark's vectorized reader refuses. Cast every
                    # nanosecond timestamp to microseconds (the lake
                    # format's on-disk contract) before writing.
                    _fields = [
                        pa.field(
                            f.name,
                            pa.timestamp("us", tz=f.type.tz),
                            nullable=f.nullable,
                        )
                        if pa.types.is_timestamp(f.type)
                        and f.type.unit == "ns"
                        else f
                        for f in win.schema
                    ]
                    win = win.cast(pa.schema(_fields))
                    bdir = os.path.join(commit_abs, f"bucket={int(b)}")
                    os.makedirs(bdir, exist_ok=True)
                    fname = f"part-{int(shard):05d}.parquet"
                    pq.write_table(
                        win, os.path.join(bdir, fname), compression="snappy"
                    )
                    out.append(
                        (
                            int(b),
                            os.path.join(commit_rel, f"bucket={int(b)}", fname),
                            win.num_rows,
                            n_tomb,
                        )
                    )
                yield pd.DataFrame(out, columns=["bucket", "file", "rows", "tombs"])

        result = tasks.mapInPandas(
            rewrite, schema="bucket int, file string, rows long, tombs long"
        ).collect()
        files: dict[str, list[str]] = {}
        total_tombs = 0
        for r in result:
            total_tombs += int(r["tombs"] or 0)
            if r["file"] is not None:
                files.setdefault(str(r["bucket"]), []).append(r["file"])
        return files, total_tombs

    def compact(
        self,
        buckets: list[int] | None = None,
        summary: dict[str, Any] | None = None,
        strategy: str = "local",
        max_task_bytes: int | None = None,
    ) -> Snapshot:
        """Materialise delta layers back into base files (Iceberg
        ``rewrite_data_files`` analogue). Only buckets that actually carry
        deltas are rewritten; pass ``buckets`` to bound the work (e.g.
        auto-compact just the layers-over-threshold buckets). ``summary``
        defaults to carrying the previous snapshot's summary forward so
        offsets survive maintenance commits.

        ``strategy='local'`` (default) exploits the physical layout: base
        and delta files are already bucketed by the same key hash, so every
        merge key's rows live in ONE bucket's files — compaction is
        embarrassingly parallel per bucket and needs **no shuffle at all**.
        One map task per bucket reads its files (Arrow), resolves LWW
        locally, writes one sorted file. This is exactly Iceberg's
        ``rewrite_data_files`` file-group shape; the cluster-wide
        groupBy-shuffle the ``'shuffle'`` strategy pays (full table through
        the exchange) is replaced by a map-only job, so compaction scales
        with cores like the scan itself. Memory bound: one bucket per task
        — ``bucket_count`` is sized so a bucket fits an executor (the same
        contract Iceberg file groups have); ``'shuffle'`` remains the
        fallback for tables whose buckets outgrew their sizing.

        Hot buckets over ``max_task_bytes`` (default: 2x the median
        bucket's bytes, floor 32 MiB) additionally split into key-hash
        SHARDS — one task per shard, each keeping only its own keys, so
        a skewed bucket stops being a parallelism ceiling (Iceberg's
        oversized-file-group split). Per-key LWW is unaffected: the hash
        is deterministic, so every key's rows resolve in exactly one
        shard."""
        snap = self.snapshot()
        targets = snap.delta_buckets()
        if buckets is not None:
            want = set(buckets)
            targets = [b for b in targets if b in want]
        if not targets:
            return snap
        if snap.props.get("merge_engine") in ("partial_update", "aggregation"):
            # the per-bucket Arrow rewrite folds plain LWW; the patch and
            # aggregation folds (per-column writer ranks / per-column merge
            # functions) live in the read path, which the shuffle strategy
            # compacts through
            strategy = "shuffle"
        token = f"c{snap.snapshot_id + 1}-{uuid.uuid4().hex[:12]}"
        if strategy == "local":
            new_files, n_tombs = self._rewrite_buckets_local(
                snap, targets, token, max_task_bytes=max_task_bytes
            )
            target_set = set(targets)
            for b in targets:
                new_files.setdefault(str(b), [])
            carried = {
                b: fs for b, fs in snap.bucket_files.items()
                if int(b) not in target_set
            }
            deltas = {
                b: fs for b, fs in snap.delta_files.items()
                if int(b) not in target_set
            }
            return self._commit(
                "compact", new_files, carried, snap.schema,
                snap.summary if summary is None else summary,
                snap.snapshot_id, delta_files=deltas,
                props_update=(
                    {"base_tombstones": True}
                    if n_tombs or snap.props.get("base_tombstones")
                    else None
                ),
            )
        merged = self.read(buckets=targets, keep_tombstones=True)
        sort_cols = snap.props.get("merge_keys", snap.bucket_keys)
        # compaction of delta-bearing buckets reads through the LWW merge
        # aggregation, whose output is hash-partitioned on the merge keys —
        # with a murmur3-bucketed table that already clusters whole buckets.
        # The skip is only sound when EVERY selected bucket is delta-bearing
        # (pure aggregate plan): read() gives clean buckets a plain file
        # scan, which is NOT hash-partitioned on the merge keys. targets is
        # built from delta_buckets() so this holds today; the explicit guard
        # keeps the invariant if the selection logic ever changes.
        merge_keys = snap.props.get("merge_keys", snap.bucket_keys)
        pre_part = self.co_partitioned_write_ok(merge_keys) and all(
            snap.delta_files.get(str(b)) for b in targets
        )
        new_files = self._write_data_files(
            self._with_bucket(merged), token, sort_cols, pre_partitioned=pre_part
        )
        target_set = set(targets)
        for b in targets:
            new_files.setdefault(str(b), [])
        carried = {
            b: fs for b, fs in snap.bucket_files.items() if int(b) not in target_set
        }
        deltas = {
            b: fs for b, fs in snap.delta_files.items() if int(b) not in target_set
        }
        return self._commit(
            "compact", new_files, carried, snap.schema,
            snap.summary if summary is None else summary,
            snap.snapshot_id, delta_files=deltas,
            # the shuffle fallback cannot cheaply count kept tombstones; a
            # delta-bearing bucket may contain 'D' winners, so flag
            # conservatively (costs only the delete-free fast path)
            props_update=(
                {"base_tombstones": True}
                if targets or snap.props.get("base_tombstones")
                else None
            ),
        )

    def expire_tombstones(
        self,
        older_than: Any | None = None,
        summary: dict[str, Any] | None = None,
    ) -> Snapshot:
        """GC delete tombstones from base files — the table's EXPLICIT
        out-of-order horizon declaration (Cassandra's gc_grace, Iceberg's
        delete-file expiry). A tombstone guards its key against stale
        pre-delete events; dropping it declares that no event older than
        the delete can still arrive. ``older_than`` (timestamp) keeps
        tombstones newer than the horizon; ``None`` drops them all.
        Rewrites every bucket (zero-shuffle, per-bucket local) and clears
        the ``base_tombstones`` read-path flag when everything went."""
        snap = self.snapshot()
        if any(f.name == "op" for f in snap.schema.fields):
            raise ValueError(
                f"table {self.path} owns 'op' as a data column (raw change "
                "events); tombstone GC does not apply"
            )
        if snap.props.get("merge_engine") == "aggregation":
            raise ValueError(
                f"table {self.path} is an aggregation table: deletes are "
                "rejected at apply time, so it never holds tombstones"
            )
        if snap.props.get("merge_engine") == "first_row":
            raise ValueError(
                f"table {self.path} is a first_row table: deletes are "
                "rejected at apply time (FWW cannot retract an earlier "
                "winner), so it never holds tombstones"
            )
        if not snap.props.get("order_cols"):
            raise ValueError(
                f"table {self.path} has no order_cols prop: it was never "
                "written through the LWW merge path, so it holds no "
                "tombstones to expire"
            )
        has_deltas = any(fs for fs in snap.delta_files.values())
        if not snap.props.get("base_tombstones") and not has_deltas:
            return snap  # nothing to expire: a rewrite would be a no-op
        targets = sorted(
            {int(b) for b in snap.bucket_files} | {int(b) for b in snap.delta_files}
        )
        if not targets:
            return snap
        token = f"c{snap.snapshot_id + 1}-{uuid.uuid4().hex[:12]}"
        if snap.props.get("merge_engine") == "partial_update":
            # patch tables GC through the read fold (the Arrow rewrite is
            # plain-LWW only): drop D winners at/under the horizon, KEEP
            # the pass-through post-death patches — they are NEWER than
            # the declared horizon, so a legitimate later re-creation must
            # still pick them up (the tombstone guarded only the already-
            # impossible pre-delete events).
            ts_col = snap.props["order_cols"][0]
            merged = self.read(buckets=targets, keep_tombstones=True)
            dead = F.col("op") == "D"
            if older_than is not None:
                dead = dead & (F.col(ts_col) < F.lit(older_than))
            kept = merged.where(~dead | F.col("op").isNull())
            new_files = self._write_data_files(
                self._with_bucket(kept), token,
                sort_cols=list(snap.props.get("merge_keys", snap.bucket_keys)),
            )
            for b in targets:
                new_files.setdefault(str(b), [])
            return self._commit(
                "expire_tombstones", new_files, {}, snap.schema,
                snap.summary if summary is None else summary,
                snap.snapshot_id, delta_files={},
                # residual newer-than-horizon tombstones may remain
                props_update={"base_tombstones": older_than is not None},
            )
        new_files, n_kept = self._rewrite_buckets_local(
            snap, targets, token,
            keep_tombstones=older_than is not None,
            expire_before=older_than,
        )
        for b in targets:
            new_files.setdefault(str(b), [])
        return self._commit(
            "expire_tombstones", new_files, {}, snap.schema,
            snap.summary if summary is None else summary,
            snap.snapshot_id, delta_files={},
            props_update={"base_tombstones": bool(n_kept)},
        )

    def commit_summary(
        self, summary: dict[str, Any], expected_parent: int | None = None
    ) -> Snapshot:
        """Metadata-only commit: carry every file forward, update only the
        summary (e.g. advancing offsets past an all-quarantined chunk)."""
        snap = self.snapshot()
        return self._commit(
            "summary", {}, snap.bucket_files, snap.schema, summary,
            expected_parent if expected_parent is not None else snap.snapshot_id,
            delta_files=snap.delta_files,
        )

    # ------------------------------------------------------------- housekeeping
    def expire_snapshots(
        self, keep_last: int = 5, orphan_grace_sec: float = 600.0
    ) -> list[int]:
        """Drop snapshot manifests older than the last ``keep_last`` and
        physically delete data files no retained snapshot references
        (reference analogue: 15-day tmp-manifest TTL,
        ``aims_realtime_util.py:1056-1086``). Snapshots PINNED as the base
        of a staged WAP batch are retained regardless of age (Iceberg
        keeps ref'd snapshots): expiring one mid-audit would break
        ``read_staged`` while the auditor is still deciding. TAGGED
        snapshots are likewise retained until the tag is dropped — a
        dataset release stays readable forever.

        ``orphan_grace_sec``: manifests reachable from NO ref (CAS losers
        — or a concurrent writer's manifest in the window between
        ``_write_snapshot`` and ``_commit_flip``, which is referenced by
        nothing yet) are only swept once older than this grace period.
        Without it, expiry could delete an in-flight commit's manifest
        and fresh data files; the writer's CAS flip then still succeeds
        (head unchanged) and CURRENT points at a deleted manifest — table
        corruption. Reachable-but-old history (main's ancestry beyond the
        keep window) carries no such hazard and expires regardless of
        age. Same age-margin discipline as ``remove_orphan_files``."""
        if self.branch is not None:
            raise ValueError(
                "expire_snapshots runs on the MAIN handle — branch "
                "histories share main's snapshots; drop_branch (or "
                "fast_forward) first, then expire from main"
            )
        pinned = (
            {self.staged_manifest(w)["base_id"] for w in self.list_staged()}
            | set(self.tags().values())
            # a lagging consumer's position snapshot is the FROM side of
            # its next changes_between — GC'ing it would strand the
            # consumer with no resume point (Paimon retains consumer refs
            # the same way)
            | set(self.consumers().values())
        )
        # every live branch pins its whole reachable ancestry: its head
        # must stay readable, and reads at the head resolve files through
        # ancestor manifests (Iceberg retains ref'd snapshots identically)
        for head in self.branches().values():
            pinned |= self._ancestry_ids(head)
        # keep window = the last keep_last of MAIN's reachable ancestry;
        # expiry candidates come from the FULL DAG listing, so snapshots a
        # pin once retained (and a prior expiry's chain break then made
        # unreachable) are GC'd the moment their pin is dropped, instead
        # of leaking forever
        keep_ids = {
            s.snapshot_id for s in self.snapshots()[-keep_last:]
        } if keep_last > 0 else {self.current_snapshot_id()}
        all_snaps = self.all_snapshots()
        # In-flight commit hazard: a concurrent writer that has run
        # _write_snapshot but not yet _commit_flip is reachable from NO
        # ref — naive expiry would delete its manifest and fresh data
        # files, its CAS would then still succeed (head unchanged), and
        # CURRENT would point at a deleted manifest. Its signature: an
        # unreachable manifest whose parent_id is STILL some ref's head
        # (the only state from which its pending CAS can ever succeed —
        # every later commit moves heads to fresh, never-reused ids, so
        # once the parent is not a head the CAS is doomed and the
        # manifest is plain garbage). Those candidates get an age grace
        # (same margin discipline as remove_orphan_files); everything
        # else — old reachable history, doomed CAS losers — expires
        # immediately.
        reachable = {s.snapshot_id for s in self.snapshots()}
        ref_heads = {self.current_snapshot_id()} | set(self.branches().values())
        horizon = time.time() - max(0.0, orphan_grace_sec)

        def _expirable(s: "Snapshot") -> bool:
            if s.snapshot_id in keep_ids or s.snapshot_id in pinned:
                return False
            if s.snapshot_id in reachable:
                return True  # committed history beyond the keep window
            if s.parent_id is None or s.parent_id not in ref_heads:
                return True  # CAS can never land: unreferenced garbage
            at = s.committed_at
            if at is None:  # pre-committed_at manifest: fall back to mtime
                try:
                    at = os.path.getmtime(
                        os.path.join(self._lake, self._snap_name(s.snapshot_id))
                    )
                except OSError:
                    return False
            return at < horizon

        retained = [s for s in all_snaps if not _expirable(s)]
        expired = [s for s in all_snaps if _expirable(s)]
        if not expired:
            return []
        live = {f for s in retained for f in s.all_files()}
        removed_ids = []
        for s in expired:
            for f in s.all_files():
                if f not in live:
                    p = os.path.join(self.path, f)
                    if os.path.exists(p):
                        os.remove(p)
            os.remove(os.path.join(self._lake, self._snap_name(s.snapshot_id)))
            removed_ids.append(s.snapshot_id)
        # clean now-empty commit dirs
        data_root = os.path.join(self.path, _DATA_DIR)
        if os.path.isdir(data_root):
            for cdir in os.listdir(data_root):
                cpath = os.path.join(data_root, cdir)
                if os.path.isdir(cpath) and not any(
                    fs for _, _, fs in os.walk(cpath)
                ):
                    shutil.rmtree(cpath)
        return removed_ids

    def describe(self) -> dict[str, Any]:
        """Operational health summary from METADATA ONLY (no data scan, no
        Spark job): layout, MOR debt, tombstone state, snapshot history —
        what an operator checks before deciding to compact / rebucket /
        expire. Safe to call on any table at any size."""
        snap = self.snapshot()
        snaps = self.snapshots()
        delta_layers = {b: len(fs) for b, fs in snap.delta_files.items() if fs}
        return {
            "path": self.path,
            "snapshot_id": snap.snapshot_id,
            "operation": snap.operation,
            "n_snapshots": len(snaps),
            "bucket_count": snap.bucket_count,
            "bucket_keys": snap.bucket_keys,
            "n_base_files": sum(len(fs) for fs in snap.bucket_files.values()),
            "n_delta_files": sum(delta_layers.values()),
            "delta_bearing_buckets": len(delta_layers),
            "max_delta_layers": max(delta_layers.values(), default=0),
            "base_tombstones": bool(snap.props.get("base_tombstones")),
            "merge_keys": list(snap.props.get("merge_keys", snap.bucket_keys)),
            "order_cols": list(snap.props.get("order_cols", [])),
            "merge_engine": snap.props.get("merge_engine", "lww"),
            "cluster_by": list(snap.props.get("cluster_by", [])),
            "committed_lsn": snap.summary.get("offsets", {}).get("last_lsn"),
            "batch_id": snap.summary.get("batch_id"),
            "staged_wap_ids": self.list_staged(),
            "tags": self.tags(),
            "consumers": self.consumers(),
            "branch": self.branch,
            "branches": self.branches(),
        }

    def metadata_table(self, kind: str) -> DataFrame:
        """The table's own metadata as a queryable DataFrame (Iceberg's
        ``table$snapshots`` / ``$files`` / ``$refs`` idiom; the reference
        publishes file catalogs as CSV tables the same way,
        ``ANMN/LTSP/geoserver_catalog.py``). Driver-side manifest reads
        only — row count is O(snapshots) / O(files) / O(refs), metadata
        scale, never data scale.

        * ``snapshots`` — this ref's ancestry: id, parent, operation,
          committed_at, file counts, summary JSON;
        * ``files`` — current snapshot's data files: path, bucket,
          base/delta kind, per-column min/max bounds JSON (when the table
          harvests stats);
        * ``refs`` — tags, branches and consumers with their snapshot
          positions.
        """
        if kind == "snapshots":
            rows = [
                (
                    s.snapshot_id,
                    s.parent_id,
                    s.operation,
                    None if s.committed_at is None
                    else datetime.datetime.fromtimestamp(
                        s.committed_at, datetime.timezone.utc
                    ),
                    sum(len(fs) for fs in s.bucket_files.values()),
                    sum(len(fs) for fs in s.delta_files.values()),
                    json.dumps(s.summary, sort_keys=True, default=str),
                )
                for s in self.snapshots()
            ]
            return self.spark.createDataFrame(
                rows,
                "snapshot_id long, parent_id long, operation string, "
                "committed_at timestamp, n_base_files long, "
                "n_delta_files long, summary string",
            )
        if kind == "files":
            snap = self.snapshot()
            rows = []
            for layer, files in (("base", snap.bucket_files),
                                 ("delta", snap.delta_files)):
                for b, fs in files.items():
                    for i, f in enumerate(fs):
                        stats = snap.file_col_stats.get(f)
                        rows.append((
                            f, int(b), layer, i,
                            None if stats is None
                            else json.dumps(stats, sort_keys=True, default=str),
                        ))
            return self.spark.createDataFrame(
                rows,
                "path string, bucket int, layer string, layer_idx int, "
                "col_bounds string",
            )
        if kind == "refs":
            rows = (
                [("tag", n, sid) for n, sid in sorted(self.tags().items())]
                + [("branch", n, sid)
                   for n, sid in sorted(self.branches().items())]
                + [("consumer", n, sid)
                   for n, sid in sorted(self.consumers().items())]
                + [("main", "CURRENT", self.current_snapshot_id())]
            )
            return self.spark.createDataFrame(
                rows, "kind string, name string, snapshot_id long"
            )
        raise ValueError(
            f"unknown metadata table {kind!r}: snapshots | files | refs"
        )

    def remove_orphan_files(self, older_than_sec: float = 86400.0) -> list[str]:
        """Delete data files referenced by NO snapshot at all — the debris
        of a crash between phase 1 (``write_delta_files`` /
        ``_write_data_files``) and phase 2 (the snapshot commit). Such
        files are invisible to every read, so this is pure space reclaim.

        ``older_than_sec`` is the safety margin (Iceberg's
        ``remove_orphan_files`` has the same knob, default 3 days): an
        IN-FLIGHT phase-1 dir from a concurrent writer is
        indistinguishable from crash debris by path alone, so only files
        comfortably older than any plausible in-flight commit are removed.
        ``expire_snapshots`` cannot do this — it only sweeps files that
        some expired snapshot referenced."""
        import time as _time

        live = {f for s in self.all_snapshots() for f in s.all_files()}
        # staged WAP batches are uncommitted BY DESIGN (audit in progress):
        # their files belong to no snapshot yet but are not orphans
        for wap_id in self.list_staged():
            for fs in self.staged_manifest(wap_id)["new_files"].values():
                live.update(fs)

        def _norm(rel: str) -> str:
            # a Hadoop checksum sidecar (.name.crc) lives and dies with its
            # data file — treat it as the data file for liveness
            d, b = os.path.split(rel)
            if b.startswith(".") and b.endswith(".crc"):
                b = b[1:-4]
            return os.path.join(d, b)

        cutoff = _time.time() - older_than_sec
        removed: list[str] = []
        data_root = os.path.join(self.path, _DATA_DIR)
        if not os.path.isdir(data_root):
            return removed
        def _is_marker(fn: str) -> bool:
            # job-success markers belong to the commit DIR, not to any one
            # data file — they are live while the dir holds any live file
            return fn in ("_SUCCESS", "._SUCCESS.crc")

        for cdir in sorted(os.listdir(data_root)):
            cpath = os.path.join(data_root, cdir)
            if not os.path.isdir(cpath):
                continue
            entries = [
                (os.path.join(dp, fn), fn)
                for dp, _, fs in os.walk(cpath)
                for fn in fs
            ]
            dir_live = any(
                _norm(os.path.relpath(p, self.path)) in live
                for p, fn in entries
                if not _is_marker(fn)
            )
            for p, fn in entries:
                rel = os.path.relpath(p, self.path)
                if _is_marker(fn):
                    if dir_live:
                        continue
                elif _norm(rel) in live:
                    continue
                if os.path.getmtime(p) <= cutoff:
                    os.remove(p)
                    removed.append(rel)
            # same age margin for file-less commit dirs: a concurrent
            # writer's just-created phase-1 dir is empty until its first
            # parquet lands, so only dirs older than the cutoff are debris
            if os.path.getmtime(cpath) <= cutoff and not any(
                fs for _, _, fs in os.walk(cpath)
            ):
                shutil.rmtree(cpath)
        return removed
