"""Change-capture sources: turning external state into a change-event
DataFrame.

Two capture styles from the reference, re-expressed as DataFrame diffs:

* **Listing diff** (rsync itemized output, ``ARGO/rsync.sh:14-43``; lftp
  --only-newer, ``lib/python/lftp_sync.py:83-96``): compare the current
  snapshot of a catalog (file listing / table extract) against the
  previously captured snapshot -> emit I/U/D change events. This is
  snapshot-diff CDC — the fallback when no real binlog exists.
* **Log tail** (JSONL/CSV event logs): parse an append-only log into typed
  change events with assigned LSNs.

Both produce the engine's canonical ``changes`` shape and feed CdcApplier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..cdc.schemas import CHANGES_SCHEMA


def snapshot_diff(
    previous: DataFrame,
    current: DataFrame,
    keys: list[str],
    compare_cols: list[str] | None = None,
    lsn_start: int = 0,
    ts_col: str = "ts",
    before_cols: list[str] | None = None,
) -> DataFrame:
    """Diff two snapshots of a keyed table into I/U/D change events.

    * in current, not previous -> I
    * in both, any compared column differs -> U
    * in previous, not current -> D

    One full-outer join on the keys; change detection is a column-wise
    null-safe comparison (the engine-side analogue of rsync's itemized
    flags).

    **LSN assignment is distributed**: dense, deterministic, globally
    key-ordered LSNs WITHOUT the single-reducer global window sort. The diff
    is range-partitioned on the keys (ordered, non-overlapping ranges), each
    partition ranks locally, and a tiny per-partition count job yields the
    cumulative offsets (collect of ``shuffle_partitions`` rows, never data)
    that a broadcast join adds back — the same two-phase scheme Spark's own
    global sort uses. The count pass and the output share one
    materialization of the ranged diff.
    """
    compare_cols = compare_cols or [
        c for c in current.columns if c not in keys and c != ts_col
    ]
    # a per-side presence marker: a key column may itself be NULL
    p = previous.withColumn("_in_p", F.lit(True)).alias("p")
    c = current.withColumn("_in_c", F.lit(True)).alias("c")
    cond = [F.col(f"p.{k}").eqNullSafe(F.col(f"c.{k}")) for k in keys]
    joined = p.join(c, cond, "full_outer")

    in_prev = F.col("p._in_p").isNotNull()
    in_cur = F.col("c._in_c").isNotNull()
    changed = F.lit(False)
    for col in compare_cols:
        changed = changed | ~F.col(f"p.{col}").eqNullSafe(F.col(f"c.{col}"))

    op = (
        F.when(in_cur & ~in_prev, "I")
        .when(in_prev & ~in_cur, "D")
        .when(changed, "U")
    )
    out_cols = [
        F.coalesce(F.col(f"c.{k}"), F.col(f"p.{k}")).alias(k) for k in keys
    ] + [
        F.col(f"c.{col}").alias(col) for col in compare_cols
    ] + [
        F.coalesce(F.col(f"c.{ts_col}"), F.col(f"p.{ts_col}")).alias(ts_col),
        op.alias("op"),
    ] + [
        # before-images (Delta CDF update_preimage analogue): the previous
        # side's value for U/D rows, NULL for I — what an incremental
        # aggregate maintainer needs to RETRACT the old contribution
        F.col(f"p.{col}").alias(f"_prev_{col}") for col in (before_cols or [])
    ]
    events = joined.select(*out_cols).where(F.col("op").isNotNull())
    return _assign_dense_lsn(events, keys, lsn_start)


def _assign_dense_lsn(
    events: DataFrame, keys: list[str], lsn_start: int
) -> DataFrame:
    """Dense global rank by key order, computed scalably: range partition ->
    local row_number -> broadcast-joined partition offsets. No partition of
    the plan ever holds more than one range's rows (a global
    ``Window.orderBy`` would funnel the whole diff through one reducer)."""
    spark = events.sparkSession
    # a local checkpoint, not persist(): the frame returned derives from
    # ``ranged``, so a cache entry for it could never be unpersisted and
    # every diff would leave one behind
    ranged = events.repartitionByRange(*[F.col(k) for k in keys]).withColumn(
        "_pid", F.spark_partition_id()
    ).localCheckpoint(eager=True)
    sizes = sorted(
        (r["_pid"], r["count"]) for r in ranged.groupBy("_pid").count().collect()
    )
    offsets, acc = [], lsn_start
    for pid, cnt in sizes:
        offsets.append((pid, acc))
        acc += int(cnt)
    if not offsets:  # empty diff
        return ranged.withColumn("lsn", F.lit(None).cast("long")).drop("_pid")
    off_df = spark.createDataFrame(offsets, "_pid int, _off long")
    rn = F.row_number().over(
        Window.partitionBy("_pid").orderBy(*[F.col(k) for k in keys])
    )
    return (
        ranged.withColumn("_rn", rn)
        .join(F.broadcast(off_df), "_pid")
        .withColumn("lsn", (F.col("_off") + F.col("_rn") - 1).cast("long"))
        .drop("_pid", "_rn", "_off")
    )


def read_jsonl_changes(spark: SparkSession, path: str) -> DataFrame:
    """Parse an append-only JSONL change log into the canonical shape
    (JSON flatten idiom: ``qld_data_parser.py:60`` json_normalize)."""
    raw = spark.read.text(path)
    parsed = raw.select(
        F.from_json(
            "value",
            CHANGES_SCHEMA,
        ).alias("r")
    ).select("r.*")
    return parsed


def filename_metadata(df: DataFrame, path_col: str = "path") -> DataFrame:
    """Parse structured fields out of catalog paths — the IMOS filename
    convention parser (``lib/python/IMOSfilename.py:137-245``) generalized:
    regexp_extract projections over a path column."""
    p = F.col(path_col)
    return df.withColumns(
        {
            "facility": F.regexp_extract(p, r"^/?([A-Za-z0-9_-]+)/", 1),
            "file_name": F.element_at(F.split(p, "/"), -1),
            "extension": F.regexp_extract(p, r"\.([A-Za-z0-9]+)$", 1),
            "date_token": F.regexp_extract(p, r"(\d{8}T\d{6}Z?|\d{4}-\d{2}-\d{2})", 1),
        }
    )
