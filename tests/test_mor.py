"""Merge-on-read (delta-layer) semantics of the lake table + apply loop.

The MOR write path is the engine's one apply path — its at-scale answer
to copy-on-write's O(table x chunks) rewrite cost (Iceberg v2
equality-delete analogue; same shape as Flink's Iceberg upsert sink).
These tests pin down:

* delta layers accumulate without touching base files;
* reads resolve LWW across base + deltas, dropping op='D' tombstones;
* compaction materialises the same state and carries offsets forward;
* threshold auto-compaction bounds layer counts during replay;
* ``compact_threshold=1`` is copy-on-write: no delta layer survives any
  chunk, and the final state equals a compact-at-end replay's.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_services_spark.cdc.apply import CdcApplier
from data_services_spark.cdc.generator import generate_changes
from data_services_spark.cdc.oracle import expected_final_state, table_state_matches

N_EVENTS = 6000


@pytest.fixture(scope="module")
def changes_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("mor_changes") / "changes.parquet")
    generate_changes(
        spark, N_EVENTS, n_convs=150, max_turns=20, n_hot=2, hot_pct=25,
        delete_pct=8, seed=23,
    ).write.parquet(p)
    return p


def test_delta_layers_accumulate_then_read_resolves(spark, changes_path, tmp_path):
    applier = CdcApplier.bootstrap(
        spark, str(tmp_path / "lake"), bucket_count=8,
        compact_threshold=None,
    )
    changes = spark.read.parquet(changes_path)
    applier.replay(changes, chunk_size=2000)  # 3 chunks, no compaction
    snap = applier.target.snapshot()
    assert snap.delta_buckets(), "expected uncompacted delta layers"
    assert not snap.bucket_files, "MOR replay must not write base files"
    ok, msg = table_state_matches(
        applier.target.read().toPandas(), expected_final_state(changes_path)
    )
    assert ok, msg


def test_compaction_preserves_state_and_offsets(spark, changes_path, tmp_path):
    applier = CdcApplier.bootstrap(
        spark, str(tmp_path / "lake"), bucket_count=8,
        compact_threshold=None,
    )
    changes = spark.read.parquet(changes_path)
    applier.replay(changes, chunk_size=2000)
    before = applier.committed_lsn()
    applier.target.compact()
    snap = applier.target.snapshot()
    assert snap.operation == "compact"
    assert not snap.delta_buckets(), "compaction must clear all delta layers"
    assert applier.committed_lsn() == before, "offsets must survive compaction"
    ok, msg = table_state_matches(
        applier.target.read().toPandas(), expected_final_state(changes_path)
    )
    assert ok, msg
    # compacted read takes the plain-scan fast path: no op column resolution
    assert "op" not in applier.target.read().columns


def test_threshold_auto_compaction_bounds_layers(spark, changes_path, tmp_path):
    applier = CdcApplier.bootstrap(
        spark, str(tmp_path / "lake"), bucket_count=4,
        compact_threshold=2,
    )
    changes = spark.read.parquet(changes_path)
    applier.replay(changes, chunk_size=1000)  # 6 chunks vs threshold 2
    snap = applier.target.snapshot()
    layer_counts = [len(fs) for fs in snap.delta_files.values()]
    assert max(layer_counts, default=0) < 2 + 1, layer_counts
    ok, msg = table_state_matches(
        applier.target.read().toPandas(), expected_final_state(changes_path)
    )
    assert ok, msg


def test_mor_equals_cow_final_state(spark, changes_path, tmp_path):
    """Copy-on-write is ``compact_threshold=1``: every affected bucket is
    rewritten right after its chunk (delta depth 0 after every chunk), and
    the final state equals a compact-at-end replay's and the oracle's."""
    changes = spark.read.parquet(changes_path)
    mor = CdcApplier.bootstrap(spark, str(tmp_path / "mor"), bucket_count=8)
    cow = CdcApplier.bootstrap(
        spark, str(tmp_path / "cow"), bucket_count=8, compact_threshold=1
    )
    depths = []
    compact_chunk = cow.maybe_compact

    def compact_and_probe():
        compact_chunk()
        snap = cow.target.snapshot()
        depths.append(max(map(len, snap.delta_files.values()), default=0))

    cow.maybe_compact = compact_and_probe
    mor.replay(changes, chunk_size=1000, compact_at_end=True)
    cow.replay(changes, chunk_size=1000)
    assert depths == [0] * 6, depths
    expected = expected_final_state(changes_path)
    for applier in (mor, cow):
        ok, msg = table_state_matches(applier.target.read().toPandas(), expected)
        assert ok, msg
    ok, msg = table_state_matches(
        mor.target.read().toPandas(), cow.target.read().toPandas()
    )
    assert ok, msg


def test_delete_then_reinsert_across_layers(spark, tmp_path):
    """A key deleted in one delta layer and re-inserted in a later one must
    survive with the newer payload; deleted-and-never-reinserted keys must
    not resurface after compaction."""
    from datetime import datetime, timezone

    from data_services_spark.cdc.schemas import CHANGES_SCHEMA

    def at(s):
        return datetime(2025, 1, 1, 0, 0, s, tzinfo=timezone.utc)

    rows = [
        (0, "I", at(0), "c1", 0, "user", "hello", None),
        (1, "I", at(1), "c1", 1, "assistant", "hi", None),
        (2, "D", at(2), "c1", 1, None, None, None),
        (3, "D", at(3), "c1", 0, None, None, None),
        (4, "I", at(4), "c1", 0, "user", "hello again", None),
    ]
    df = spark.createDataFrame(rows, CHANGES_SCHEMA)

    applier = CdcApplier.bootstrap(
        spark, str(tmp_path / "lake"), bucket_count=4,
        compact_threshold=None,
    )
    # one event per chunk -> 5 delta layers, maximal layering
    applier.replay(df, chunk_size=1, source_hi=4)
    got = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in applier.target.read().collect()
    }
    assert got == {("c1", 0): "hello again"}
    applier.target.compact()
    got2 = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in applier.target.read().collect()
    }
    assert got2 == got


def test_co_partitioned_write_one_file_per_bucket(spark, changes_path, tmp_path):
    """The murmur3 bucket fn matches Spark's shuffle hash, so the winners
    write must skip its repartition AND still produce exactly one file per
    touched bucket per chunk (no file explosion — the failure mode if the
    co-partitioning assertion ever breaks)."""
    applier = CdcApplier.bootstrap(spark, str(tmp_path / "lake"), bucket_count=8)
    assert applier.target.co_partitioned_write_ok(["conv_id", "turn_idx"])
    changes = spark.read.parquet(changes_path)
    applier.replay(changes, chunk_size=4000)  # 2 chunks
    snap = applier.target.snapshot()
    for b, fs in snap.delta_files.items():
        assert len(fs) <= 2, (b, fs)  # at most 1 file per chunk per bucket


def _visible(table, keys):
    return (
        table.read().toPandas().sort_values(keys).reset_index(drop=True)
    )


def _one_file_per_bucket(snap, buckets):
    for b in buckets:
        fs = snap.bucket_files.get(str(b), [])
        assert len(fs) == 1, (b, fs)
    assert not set(snap.delta_buckets()) & set(buckets)


def test_compaction_preserves_read_state(spark, changes_path, tmp_path):
    """Compaction must materialise exactly the state ``read()`` resolves
    through the Spark max_by fold over base + deltas: same visible rows
    and schema, same tombstoned keys, one file per compacted bucket, and
    still the DuckDB oracle's final state."""
    import pandas as pd

    applier = CdcApplier.bootstrap(
        spark, str(tmp_path / "lake"), bucket_count=8,
        compact_threshold=None,
    )
    applier.replay(spark.read.parquet(changes_path), chunk_size=2000)
    t = applier.target
    keys = ["conv_id", "turn_idx"]

    def dead():
        return {
            (r["conv_id"], r["turn_idx"])
            for r in t.read(keep_tombstones=True).where("op = 'D'").collect()
        }

    targets = t.snapshot().delta_buckets()
    before, dead_before = _visible(t, keys), dead()
    assert dead_before, "stream must carry delete winners"
    snap = t.compact()
    _one_file_per_bucket(snap, targets)
    after = _visible(t, keys)
    assert list(after.columns) == list(before.columns)
    pd.testing.assert_frame_equal(after, before)
    assert dead() == dead_before
    ok, msg = table_state_matches(after, expected_final_state(changes_path))
    assert ok, msg


def test_compaction_null_fills_columns_absent_from_a_bucket(spark, tmp_path):
    """One chunk adds a column for one key; a source that lags the schema
    then touches other keys. Buckets whose files never saw the new column
    must still compact (the column reads as NULL, as in ``read()``) —
    through threshold compaction and through tombstone GC."""
    import datetime as dt

    import pandas as pd

    from data_services_spark.cdc.schemas import CHANGES_SCHEMA

    def events(rows, score=False):
        df = spark.createDataFrame(
            [(lsn, op, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=sec),
              conv, 0, None if op == "D" else "user",
              None if op == "D" else f"t{lsn}", None)
             for lsn, op, sec, conv in rows],
            CHANGES_SCHEMA,
        )
        return df.withColumn("score", F.lit(7).cast("long")) if score else df

    a = CdcApplier.bootstrap(spark, str(tmp_path / "lake"), bucket_count=8,
                             compact_threshold=2)
    t = a.target
    keys = ["conv_id", "turn_idx"]
    a.apply_chunk(events([(i, "I", i, f"c{i}") for i in range(40)]),
                  -1, 39, batch_id=0)
    a.apply_chunk(events([(40, "I", 100, "c0")], score=True), 39, 40, batch_id=1)
    a.apply_chunk(events([(41, "D", 101, "c39")]), 40, 41, batch_id=2)
    # the lagging source: no 'score' column at all
    a.apply_chunk(events([(42 + i, "U", 200, f"c{i}") for i in range(1, 20)]),
                  41, 61, batch_id=3)
    before = _visible(t, keys)
    assert "score" in before.columns
    hot = [int(b) for b, fs in t.snapshot().delta_files.items() if len(fs) >= 2]
    a.maybe_compact()
    _one_file_per_bucket(t.snapshot(), hot)
    pd.testing.assert_frame_equal(_visible(t, keys), before)

    a.apply_chunk(events([(62 + i, "U", 300, f"c{i}") for i in range(20, 26)]),
                  61, 67, batch_id=4)
    before = _visible(t, keys)
    snap = t.expire_tombstones()
    assert not snap.delta_files and not snap.props.get("base_tombstones")
    _one_file_per_bucket(snap, [int(b) for b in snap.bucket_files])
    after = _visible(t, keys)
    pd.testing.assert_frame_equal(after, before)
    assert ("c39", 0) not in set(zip(after["conv_id"], after["turn_idx"]))
    assert after.loc[after["conv_id"] == "c0", "score"].tolist() == [7]


def test_compaction_groups_null_merge_keys(spark, tmp_path):
    """A delta-bearing bucket holding NULL merge-key rows compacts to
    exactly what ``read()`` resolved: Spark's groupBy folds every NULL key
    into ONE group, and NULL order values rank lowest."""
    from pyspark.sql import types as T

    from data_services_spark.lake import LakeTable

    schema = T.StructType([
        T.StructField("k", T.StringType(), True),
        T.StructField("i", T.IntegerType(), True),
        T.StructField("v", T.StringType(), True),
    ])
    t = LakeTable.create(
        spark, str(tmp_path / "nk"), schema, ["k"], bucket_count=2,
        props={"merge_keys": ["k"], "order_cols": ["i"]},
    )
    t.append(spark.createDataFrame(
        [(None, 1, "x"), (None, 2, "y"), ("a", 1, "a1"), ("b", 5, "b5")], schema
    ))
    t.append_delta(spark.createDataFrame(
        [(None, 3, "z"), ("a", 2, "a2"), ("b", None, "b-null")], schema
    ).withColumn("op", F.lit("U")))
    before = sorted(map(tuple, t.read().collect()), key=repr)
    assert before == [("a", 2, "a2"), ("b", 5, "b5"), (None, 3, "z")]
    snap = t.compact()
    assert not snap.delta_files
    assert sorted(map(tuple, t.read().collect()), key=repr) == before


def test_crash_between_delta_write_and_commit_is_invisible(spark, changes_path, tmp_path):
    """Two-phase commit crash probe: phase 1 written, process dies before
    phase 2. The orphaned dir must be invisible to reads, the chunk must
    replay cleanly (no duplicates, no gaps), and snapshot expiry must sweep
    the orphan."""
    import os

    from data_services_spark.cdc.apply import CdcApplier

    changes = spark.read.parquet(changes_path)
    a = CdcApplier.bootstrap(spark, str(tmp_path / "lake"), bucket_count=8)
    a.replay(changes, chunk_size=4000, source_hi=3999)
    snap_before = a.target.current_snapshot_id()
    rows_before = a.target.read().count()

    # simulate the crash: phase 1 only
    from data_services_spark.cdc.dedup import lww_dedup

    chunk = changes.where((F.col("lsn") > 3999) & (F.col("lsn") <= 7999))
    winners = lww_dedup(chunk.where(F.col("conv_id").isNotNull()),
                        keys=a.keys, order=a.order)
    orphan_dir, _ = a.target.write_delta_files(winners, sort_cols=a.keys)
    assert os.path.isdir(orphan_dir)
    # never committed: reads and snapshot state unchanged
    assert a.target.current_snapshot_id() == snap_before
    assert a.target.read().count() == rows_before

    # resume replays the chunk through the normal path; final state matches
    a.replay(changes, chunk_size=4000)
    from data_services_spark.cdc.oracle import (
        expected_final_state,
        table_state_matches,
    )

    ok, msg = table_state_matches(
        a.target.read().toPandas(), expected_final_state(changes_path)
    )
    assert ok, msg

    # maintenance sweeps the orphan (referenced by NO snapshot — only
    # remove_orphan_files can see it; expire_snapshots sweeps only files
    # some expired snapshot referenced). Age threshold 0 for the test;
    # production keeps the default margin so in-flight phase-1 dirs of
    # concurrent writers are never mistaken for debris.
    removed = a.target.remove_orphan_files(older_than_sec=0)
    assert removed, "orphan files not detected"
    assert not os.path.isdir(orphan_dir)
    # and the sweep broke nothing
    assert a.target.read().count() > 0
