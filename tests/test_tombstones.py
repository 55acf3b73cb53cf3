"""Delete-tombstone durability: a delete must keep winning against stale
(older event-time) out-of-order events across EVERY maintenance rewrite —
compaction (including the per-chunk compaction of
``compact_threshold=1``), copy-on-write merges, and rebucket. GC of
that memory is only the explicit ``expire_tombstones`` horizon declaration
(Cassandra gc_grace / Iceberg delete-expiry analogue).

Found via an end-to-end probe: replay -> rebucket -> apply a stale segment
resurrected 141 deleted keys, because read()/compact()/CoW all dropped 'D'
winners on rewrite.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from data_services_spark.cdc.apply import CdcApplier
from data_services_spark.cdc.schemas import CHANGES_SCHEMA


def _ts(s: int):
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)


def _events(spark, rows):
    return spark.createDataFrame(
        [(lsn, op, _ts(sec), conv, ti, role, text, None)
         for (lsn, op, sec, conv, ti, role, text) in rows],
        CHANGES_SCHEMA,
    )


SEG1 = [
    (0, "I", 10, "c1", 0, "user", "hello"),
    (1, "I", 20, "c2", 0, "user", "doomed"),
    (2, "D", 30, "c2", 0, None, None),       # delete wins at ts=30
    (3, "I", 40, "c3", 0, "user", "keep"),
]
# stale event: OLDER event-time than the delete -> must lose forever
STALE = [(4, "I", 15, "c2", 0, "user", "zombie")]
# fresh event: NEWER event-time than the delete -> legitimately re-creates
FRESH = [(5, "I", 50, "c2", 0, "user", "reborn")]


def _keys(applier):
    return {(r["conv_id"], r["turn_idx"]): r["text"]
            for r in applier.target.read().collect()}


# threshold 1 compacts every chunk's buckets: the copy-on-write behaviour
@pytest.mark.parametrize("compact_threshold", [16, 1], ids=["mor", "cow"])
def test_stale_event_after_compaction_stays_dead(spark, tmp_path, compact_threshold):
    a = CdcApplier.bootstrap(spark, str(tmp_path / "lake"), bucket_count=4,
                             compact_threshold=compact_threshold)
    a.replay(_events(spark, SEG1), chunk_size=10, source_hi=3)
    a.target.compact()  # tombstone must survive the rewrite
    assert ("c2", 0) not in _keys(a)
    a.apply_chunk(_events(spark, STALE), lo=3, hi=4, batch_id=10)
    a.maybe_compact()  # threshold 1: the chunk's bucket is rewritten
    got = _keys(a)
    assert ("c2", 0) not in got, "stale pre-delete event resurrected the key"
    assert got[("c1", 0)] == "hello" and got[("c3", 0)] == "keep"
    # a genuinely newer event re-creates the key (LWW, not a key blacklist)
    a.apply_chunk(_events(spark, FRESH), lo=4, hi=5, batch_id=11)
    a.maybe_compact()
    assert _keys(a)[("c2", 0)] == "reborn"


def test_stale_event_after_rebucket_stays_dead(spark, tmp_path):
    a = CdcApplier.bootstrap(spark, str(tmp_path / "rb"), bucket_count=2)
    a.replay(_events(spark, SEG1), chunk_size=10, source_hi=3)
    a.target.compact()
    a.target.rebucket(8)  # the end-to-end probe's exact sequence
    assert ("c2", 0) not in _keys(a)
    a.apply_chunk(_events(spark, STALE), lo=3, hi=4, batch_id=10)
    assert ("c2", 0) not in _keys(a)


def test_tombstone_survives_per_chunk_compaction_of_its_bucket(spark, tmp_path):
    """Under ``compact_threshold=1`` every chunk rewrites its affected
    buckets wholesale; the delete's memory must ride through rewrites that
    touch its bucket for OTHER keys."""
    a = CdcApplier.bootstrap(spark, str(tmp_path / "cw"), bucket_count=1,
                             compact_threshold=1)
    a.replay(_events(spark, SEG1), chunk_size=10, source_hi=3)
    # bucket_count=1: every chunk rewrites the single bucket
    for batch_id, row in ((10, (4, "I", 41, "c9", 0, "user", "noise")),
                          (11, (5, "I", 16, "c2", 0, "user", "zombie"))):
        a.apply_chunk(_events(spark, [row]), lo=row[0] - 1, hi=row[0],
                      batch_id=batch_id)
        a.maybe_compact()
        assert not a.target.snapshot().delta_buckets()
    assert ("c2", 0) not in _keys(a)


def test_expire_tombstones_declares_horizon(spark, tmp_path):
    a = CdcApplier.bootstrap(spark, str(tmp_path / "ex"), bucket_count=4)
    a.replay(_events(spark, SEG1), chunk_size=10, source_hi=3)
    a.target.compact()
    assert a.target.snapshot().props.get("base_tombstones") is True
    a.target.expire_tombstones()
    snap = a.target.snapshot()
    assert snap.operation == "expire_tombstones"
    assert snap.props.get("base_tombstones") is False
    # past the declared horizon, a stale event CAN resurrect — that is the
    # documented meaning of expiry (same contract as Cassandra gc_grace)
    a.apply_chunk(_events(spark, STALE), lo=3, hi=4, batch_id=10)
    assert _keys(a)[("c2", 0)] == "zombie"


def test_expire_tombstones_horizon_keeps_recent(spark, tmp_path):
    a = CdcApplier.bootstrap(spark, str(tmp_path / "hz"), bucket_count=4)
    seg = SEG1 + [(4, "D", 100, "c3", 0, None, None)]  # second, newer delete
    a.replay(_events(spark, seg), chunk_size=10, source_hi=4)
    a.target.compact()
    # horizon between the two deletes: c2's tombstone (ts=30) expires,
    # c3's (ts=100) survives
    a.target.expire_tombstones(older_than=_ts(60))
    assert a.target.snapshot().props.get("base_tombstones") is True
    a.apply_chunk(_events(spark, [(5, "I", 15, "c2", 0, "user", "z2"),
                                  (6, "I", 90, "c3", 0, "user", "z3")]),
                  lo=4, hi=6, batch_id=10)
    got = _keys(a)
    assert got[("c2", 0)] == "z2"      # expired horizon: resurrection allowed
    assert ("c3", 0) not in got        # retained tombstone still guards


def test_delete_free_table_never_flags_base_tombstones(spark, tmp_path):
    """The plain-scan fast path must stay byte-identical for tables that
    never saw a delete."""
    a = CdcApplier.bootstrap(spark, str(tmp_path / "df"), bucket_count=4)
    stream = [(i, "I", 10 + i, f"c{i}", 0, "user", "x") for i in range(8)]
    a.replay(_events(spark, stream), chunk_size=10, source_hi=7)
    a.target.compact()
    assert not a.target.snapshot().props.get("base_tombstones")
    plan = a.target.read()._jdf.queryExecution().executedPlan().toString()
    assert "isnull(op" not in plan and "op#" not in plan.split("ReadSchema")[0]


def test_op_owning_tables_are_guarded(spark, tmp_path):
    """The quarantine table stores RAW change events — 'op' is data there,
    not the tombstone marker. Maintenance must treat it as a plain table:
    rebucket works on logical rows, tombstone GC refuses outright."""
    a = CdcApplier.bootstrap(spark, str(tmp_path / "q"), bucket_count=4)
    bad = [(0, "I", 0, None, 0, "user", "orphan"),
           (1, "D", 1, None, 1, None, None)]
    ok = [(2, "I", 2, "c1", 0, "user", "hi")]
    a.replay(_events(spark, bad + ok), chunk_size=10, source_hi=2)
    q = a.quarantine
    assert q.read().count() == 2
    q.rebucket(8)  # plain logical rewrite, 'D' data rows untouched
    assert q.read().count() == 2
    assert {r["op"] for r in q.read().collect()} == {"I", "D"}
    with pytest.raises(ValueError, match="owns 'op' as a data column"):
        q.expire_tombstones()
    with pytest.raises(ValueError, match="owns 'op' as a data column"):
        q.read(keep_tombstones=True)
