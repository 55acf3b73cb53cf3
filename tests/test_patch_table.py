"""Partial-update merge ENGINE path: patch tables through CdcApplier +
LakeTable (merge_engine='partial_update').

Delta layers keep each surviving patch as its own row; the read fold
resolves per-column winners via the hidden ``_wr`` writer-rank struct,
which compaction preserves — so late (out-of-order) patches, deletes and
creations stay exact across chunk and compaction boundaries. The
standalone ``partial_update_merge`` operator is the semantic oracle."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from data_services_spark.cdc.apply import CdcApplier
from data_services_spark.cdc.dedup import partial_update_merge
from data_services_spark.cdc.schemas import CHANGES_SCHEMA

EPOCH = dt.datetime(2024, 1, 1)


def _ts(minute: int) -> dt.datetime:
    return EPOCH + dt.timedelta(minutes=minute)


def _stream(spark, rows):
    """rows: (lsn, op, minute, conv_id, turn_idx, role, text, tool)"""
    data = [
        (lsn, op, _ts(m), cid, ti, role, text, tool)
        for (lsn, op, m, cid, ti, role, text, tool) in rows
    ]
    return spark.createDataFrame(data, CHANGES_SCHEMA)


def _patch_applier(spark, tmp_path, bucket_count=4):
    return CdcApplier.bootstrap(
        spark, str(tmp_path / "lake"), bucket_count=bucket_count,
        target_props={"merge_engine": "partial_update"},
    )


def _rows(df):
    return {
        (r["conv_id"], r["turn_idx"]):
            (r["role"], r["text"], r["tool"], r["ts"], r["lsn"])
        for r in df.collect()
    }


def test_wr_column_hidden_from_reads(spark, tmp_path):
    applier = _patch_applier(spark, tmp_path)
    assert "_wr" in [f.name for f in applier.target.snapshot().schema.fields]
    applier.replay(
        _stream(spark, [(0, "U", 0, "a", 0, "user", "t", "x")]),
        chunk_size=100,
    )
    assert "_wr" not in applier.target.read().columns


def test_patch_apply_matches_operator(spark, tmp_path):
    rows = [
        (0, "U", 0, "a", 0, "user", "a1", "x"),
        (1, "P", 5, "a", 0, None, "a2", None),       # patch text
        (2, "P", 9, "a", 0, "assistant", None, None),  # patch role
        (3, "U", 1, "b", 0, "user", "b1", "y"),
        (4, "D", 6, "b", 0, None, None, None),
        (5, "P", 8, "b", 0, "user", "late", None),     # patch after death
        (6, "U", 2, "c", 0, "system", None, None),
        (7, "P", 4, "c", 0, None, "c-text", "tool"),
        (8, "U", 7, "c", 0, "user", None, "z"),        # full write resets text
        (9, "P", 3, "d", 0, "user", "orphan", None),   # no U ever
    ]
    stream = _stream(spark, rows)
    applier = _patch_applier(spark, tmp_path)
    # three chunks by lsn, exercising cross-chunk resolution
    applier.replay(stream, chunk_size=4)
    got = _rows(applier.target.read())
    want = _rows(partial_update_merge(stream, keys=["conv_id", "turn_idx"]))
    assert got == want
    assert ("b", 0) not in got and ("d", 0) not in got
    assert got[("a", 0)] == ("assistant", "a2", "x", _ts(0), 0)
    assert got[("c", 0)] == ("user", None, "z", _ts(7), 8)


def test_late_patch_after_compaction_applies_per_column(spark, tmp_path):
    applier = _patch_applier(spark, tmp_path)
    applier.replay(_stream(spark, [
        (0, "U", 10, "a", 0, "user", "T10", "X10"),
        (1, "P", 30, "a", 0, None, "T30", None),
    ]), chunk_size=100)
    applier.target.compact()
    assert not applier.target.snapshot().delta_buckets()
    # a late patch with event time BETWEEN creation and the folded patch:
    # tool (written at 10) must take it, text (written at 30) must not
    applier.replay(_stream(spark, [
        (2, "P", 20, "a", 0, None, "T20", "X20"),
    ]), chunk_size=100)
    got = _rows(applier.target.read())
    assert got[("a", 0)] == ("user", "T30", "X20", _ts(10), 0)


def test_late_delete_kills_patched_row(spark, tmp_path):
    applier = _patch_applier(spark, tmp_path)
    applier.replay(_stream(spark, [
        (0, "U", 10, "a", 0, "user", "t", "x"),
        (1, "P", 30, "a", 0, None, "t30", None),
    ]), chunk_size=100)
    applier.target.compact()
    # delete with event time AFTER creation: row dies even though a patch
    # with newer event time exists (the row's identity is its full write)
    applier.replay(_stream(spark, [
        (2, "D", 20, "a", 0, None, None, None),
    ]), chunk_size=100)
    assert _rows(applier.target.read()) == {}


def test_postdeath_patch_survives_compaction_until_recreation(spark, tmp_path):
    applier = _patch_applier(spark, tmp_path)
    applier.replay(_stream(spark, [
        (0, "U", 5, "a", 0, "user", "t5", "x5"),
        (1, "D", 20, "a", 0, None, None, None),
        (2, "P", 30, "a", 0, None, "t30", None),   # patch after death
    ]), chunk_size=100)
    applier.target.compact()
    assert _rows(applier.target.read()) == {}
    # recreation between the death and the patch: the kept-through-
    # compaction patch must now apply on top of it
    applier.replay(_stream(spark, [
        (3, "U", 25, "a", 0, "system", "t25", "x25"),
    ]), chunk_size=100)
    got = _rows(applier.target.read())
    assert got[("a", 0)] == ("system", "t30", "x25", _ts(25), 3)


def test_orphan_patch_waits_for_late_creation(spark, tmp_path):
    applier = _patch_applier(spark, tmp_path)
    applier.replay(_stream(spark, [
        (0, "P", 30, "a", 0, None, "patched", None),
    ]), chunk_size=100)
    assert _rows(applier.target.read()) == {}
    applier.target.compact()  # orphan patch must survive the rewrite
    applier.replay(_stream(spark, [
        (1, "U", 10, "a", 0, "user", "t10", "x10"),
    ]), chunk_size=100)
    got = _rows(applier.target.read())
    assert got[("a", 0)] == ("user", "patched", "x10", _ts(10), 1)


def test_patch_validation_gates(spark, tmp_path):
    applier = _patch_applier(spark, tmp_path)
    stats = applier.replay(_stream(spark, [
        (0, "U", 0, "a", 0, "user", "t", "x"),
        (1, "P", 5, "a", 0, None, "ok-patch", None),     # valid: nulls fine
        (2, "P", 6, "a", 0, "robot", None, None),        # patched role invalid
        (3, "X", 7, "a", 0, "user", "t", "x"),           # bad op
        (4, "U", 8, "b", 0, None, "t", "x"),             # full write needs role
    ]), chunk_size=100)
    assert sum(s.n_quarantined for s in stats) == 3
    got = _rows(applier.target.read())
    assert got[("a", 0)][1] == "ok-patch" and got[("a", 0)][0] == "user"
    assert ("b", 0) not in got


def test_duplicate_patch_redelivery_is_noop(spark, tmp_path):
    applier = _patch_applier(spark, tmp_path)
    stream = _stream(spark, [
        (0, "U", 0, "a", 0, "user", "t", "x"),
        (1, "P", 5, "a", 0, None, "p1", None),
    ])
    applier.replay(stream, chunk_size=100)
    before = _rows(applier.target.read())
    # force a re-apply of the same events under a fresh chunk window
    applier.apply_chunk(stream, lo=-1, hi=None, batch_id=99)
    assert _rows(applier.target.read()) == before


def test_changes_between_on_patch_table(spark, tmp_path):
    applier = _patch_applier(spark, tmp_path)
    applier.replay(_stream(spark, [
        (0, "U", 0, "a", 0, "user", "t0", "x"),
    ]), chunk_size=100)
    s1 = applier.target.current_snapshot_id()
    applier.replay(_stream(spark, [
        (1, "P", 5, "a", 0, None, "t5", None),
    ]), chunk_size=100)
    ch = applier.target.changes_between(s1).collect()
    assert len(ch) == 1 and ch[0]["op"] == "U" and ch[0]["text"] == "t5"
    assert "_wr" not in applier.target.changes_between(s1).columns


def test_streaming_patch_ingest(spark, tmp_path):
    """Micro-batched patch ingest: the streaming path goes through the same
    apply_chunk -> _chunk_rows machinery, so a patch stream consumed file
    by file converges to the one-shot operator fold."""
    from data_services_spark.streaming.stream_apply import (
        start_apply_stream,
        stream_changes,
    )

    rows = [
        (0, "U", 0, "a", 0, "user", "a1", "x"),
        (1, "U", 1, "b", 0, "user", "b1", "y"),
        (2, "P", 5, "a", 0, None, "a-patch", None),
        (3, "D", 6, "b", 0, None, None, None),
        (4, "P", 9, "a", 0, "assistant", None, None),
        (5, "U", 8, "b", 0, "system", "b2", None),   # recreate after delete
    ]
    src = str(tmp_path / "src")
    full = _stream(spark, rows)
    for lo, hi in ((0, 2), (2, 4), (4, 6)):  # three micro-batch files
        from pyspark.sql import functions as F2
        (full.where((F2.col("lsn") >= lo) & (F2.col("lsn") < hi))
             .coalesce(1).write.mode("append").parquet(src))
    applier = _patch_applier(spark, tmp_path)
    q = start_apply_stream(
        applier,
        stream_changes(spark, src, max_files_per_trigger=1),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.processAllAvailable()
    q.stop()
    got = _rows(applier.target.read())
    want = _rows(partial_update_merge(full, keys=["conv_id", "turn_idx"]))
    assert got == want
    assert got[("a", 0)][:3] == ("assistant", "a-patch", "x")
    assert got[("b", 0)][:3] == ("system", "b2", None)


def test_patch_expire_tombstones_keeps_postdeath_patches(spark, tmp_path):
    applier = _patch_applier(spark, tmp_path)
    applier.replay(_stream(spark, [
        (0, "U", 5, "a", 0, "user", "t5", "x5"),
        (1, "D", 20, "a", 0, None, None, None),
        (2, "P", 30, "a", 0, None, "t30", None),
        (3, "U", 2, "b", 0, "user", "live", "y"),
    ]), chunk_size=100)
    applier.target.compact()
    snap = applier.target.expire_tombstones(None)
    assert snap.operation == "expire_tombstones"
    got = _rows(applier.target.read())
    assert ("a", 0) not in got and got[("b", 0)][1] == "live"
    # the post-death patch is NEWER than the declared horizon: a later
    # legitimate re-creation must still pick it up
    applier.replay(_stream(spark, [
        (4, "U", 25, "a", 0, "system", "t25", "x25"),
    ]), chunk_size=100)
    got = _rows(applier.target.read())
    assert got[("a", 0)] == ("system", "t30", "x25", _ts(25), 4)


def test_patch_rebucket_preserves_state_and_ranks(spark, tmp_path):
    applier = _patch_applier(spark, tmp_path)
    applier.replay(_stream(spark, [
        (0, "U", 10, "a", 0, "user", "T10", "X10"),
        (1, "P", 30, "a", 0, None, "T30", None),
        (2, "U", 1, "b", 0, "user", "b1", "y"),
        (3, "D", 6, "b", 0, None, None, None),
        (4, "P", 9, "b", 0, None, "late", None),   # post-death pass-through
    ]), chunk_size=100)
    before = _rows(applier.target.read())
    applier.target.rebucket(8)
    assert _rows(applier.target.read()) == before
    # per-column ranks survive the rebucket rewrite: a late patch between
    # creation and the folded patch must still resolve per column
    applier.replay(_stream(spark, [
        (5, "P", 20, "a", 0, None, "T20", "X20"),
    ]), chunk_size=100)
    got = _rows(applier.target.read())
    assert got[("a", 0)] == ("user", "T30", "X20", _ts(10), 0)
    # ...and the post-death patch survived into the new layout too
    applier.replay(_stream(spark, [
        (6, "U", 8, "b", 0, "system", "b2", None),
    ]), chunk_size=100)
    got = _rows(applier.target.read())
    assert got[("b", 0)] == ("system", "late", None, _ts(8), 6)


def test_bulk_append_and_delta_stamp_writer_ranks(spark, tmp_path):
    """A bulk load (no op) or a raw delta append (with op) that arrives
    without _wr gets writer ranks stamped — otherwise every column would
    read as never-written and the rows would surface all-NULL."""
    from pyspark.sql import types as T2

    from data_services_spark.lake.table import LakeTable

    schema = T2.StructType([
        T2.StructField("k", T2.StringType(), False),
        T2.StructField("a", T2.StringType(), True),
        T2.StructField("b", T2.StringType(), True),
        T2.StructField("ts", T2.TimestampType(), True),
        T2.StructField("lsn", T2.LongType(), True),
    ])
    t = LakeTable.create(
        spark, str(tmp_path / "t"), schema, ["k"], 4,
        props={"merge_keys": ["k"], "order_cols": ["ts", "lsn"],
               "merge_engine": "partial_update"},
    )
    t.append(spark.createDataFrame(
        [("x", "a0", "b0", _ts(0), 0)], schema))
    got = {r["k"]: (r["a"], r["b"]) for r in t.read().collect()}
    assert got == {"x": ("a0", "b0")}   # bulk rows surface fully
    # raw delta patch without _wr: only the non-null column applies
    patch = spark.createDataFrame(
        [("x", None, "b1", _ts(5), 1, "P")],
        T2.StructType(schema.fields + [T2.StructField("op", T2.StringType(), True)]),
    )
    t.append_delta(patch)
    got = {r["k"]: (r["a"], r["b"]) for r in t.read().collect()}
    assert got == {"x": ("a0", "b1")}


def test_patch_wap_stage_audit_publish(spark, tmp_path):
    """Write-audit-publish over a patch table: staged patch rows resolve
    through the same fold in read_staged, the audit sees exactly what
    publish will expose, and abandon leaves no trace."""
    from data_services_spark.contracts import Contract, ContractSuite

    applier = _patch_applier(spark, tmp_path)
    applier.replay(_stream(spark, [
        (0, "U", 0, "a", 0, "user", "t0", "x"),
    ]), chunk_size=100)
    suite = ContractSuite([
        Contract("turn_bound", "bounds", column="turn_idx",
                 min_value=0, max_value=100),
    ])
    # good patch batch: stage -> audit pass -> publish
    good = _stream(spark, [(1, "P", 5, "a", 0, None, "patched", None)])
    applier.stage_chunk(good, "w1", hi=1)
    passed, _ = applier.audit_staged("w1", suite=suite)
    assert passed
    staged_view = applier.target.read_staged("w1")
    assert {r["text"] for r in staged_view.collect()} == {"patched"}
    assert applier.target.read().collect()[0]["text"] == "t0"  # invisible yet
    applier.publish_chunk("w1")
    assert applier.target.read().collect()[0]["text"] == "patched"
    # poison batch: a full write beyond the contract bound -> abandon
    bad = _stream(spark, [(2, "U", 9, "a", 5000, "user", "boom", None)])
    applier.stage_chunk(bad, "w2", hi=2)
    passed, report = applier.audit_staged("w2", suite=suite)
    assert not passed
    applier.abandon_chunk("w2")
    assert applier.target.list_staged() == []
    assert applier.target.read().collect()[0]["text"] == "patched"


def test_patch_quarantine_requeue(spark, tmp_path):
    """An invalid PATCHED value quarantines the event; a later requeue
    under a relaxed validator re-drives it and the fold places it by its
    original event time (LWW-style late re-drive safety)."""
    from pyspark.sql import functions as F2

    from data_services_spark.cdc.apply import CdcApplier as _A

    applier = _patch_applier(spark, tmp_path)
    stats = applier.replay(_stream(spark, [
        (0, "U", 0, "a", 0, "user", "t0", "x"),
        (1, "P", 5, "a", 0, "robot", "t5", None),   # bad patched role
        (2, "P", 9, "a", 0, None, None, "x9"),      # valid later patch
    ]), chunk_size=100)
    assert sum(s.n_quarantined for s in stats) == 1
    got = _rows(applier.target.read())
    assert got[("a", 0)] == ("user", "t0", "x9", _ts(0), 0)
    relaxed = _A.load(
        spark, str(tmp_path / "lake"),
        validator=lambda df: F2.lit(None).cast("string"),
    )
    out = relaxed.requeue_quarantine()
    assert out["requeued"] == 1 and out["still_quarantined"] == 0
    got = _rows(relaxed.target.read())
    # the requeued patch applies at ITS event time: role from lsn1@t5,
    # text from lsn1@t5 (latest writer), tool still from lsn2@t9
    assert got[("a", 0)] == ("robot", "t5", "x9", _ts(0), 0)


def test_incremental_agg_view_over_patch_source(spark, tmp_path):
    """A materialized aggregate view maintained from a PATCH table's
    changelog: patch-driven value changes retract the before-image and
    apply the after-image like any other update, so two incremental
    refreshes equal a from-scratch recompute."""
    from data_services_spark.operators.incremental_view import IncrementalAggView

    applier = _patch_applier(spark, tmp_path)
    view = IncrementalAggView.create(
        spark, str(tmp_path / "view"), applier.target,
        group_cols=["role"], sum_cols=["turn_idx"], bucket_count=2,
    )
    applier.replay(_stream(spark, [
        (0, "U", 0, "a", 0, "user", "t", "x"),
        (1, "U", 1, "b", 1, "user", "t", "x"),
        (2, "U", 2, "c", 2, "assistant", "t", "x"),
    ]), chunk_size=100)
    view.refresh()
    applier.replay(_stream(spark, [
        (3, "P", 5, "a", 0, "assistant", None, None),  # group-moving PATCH
        (4, "D", 6, "b", 1, None, None, None),
        (5, "P", 7, "c", 2, None, "patched", None),    # non-group patch
    ]), chunk_size=100)
    view.refresh()
    got = {r["role"]: (r["n_rows"], r["sum_turn_idx"])
           for r in view.read().collect()}
    want = {
        r["role"]: (r["cnt"], r["s"])
        for r in applier.target.read().groupBy("role").agg(
            F.count("*").alias("cnt"), F.sum("turn_idx").alias("s")
        ).collect()
    }
    assert got == want == {"assistant": (2, 2)}
