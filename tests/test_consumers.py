"""Consumer groups (Paimon consumer-id parity): downstream incremental
readers checkpoint their changelog position IN table metadata; snapshot
expiry retains every consumer's position snapshot."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_services_spark.lake import LakeTable

SCHEMA = T.StructType([
    T.StructField("k", T.StringType(), False),
    T.StructField("v", T.StringType(), True),
    T.StructField("ts", T.TimestampType(), True),
    T.StructField("lsn", T.LongType(), True),
])


def _df(spark, rows):
    import datetime as dt

    return spark.createDataFrame(
        [(k, v, dt.datetime(2024, 1, 1, 0, m), lsn) for k, v, m, lsn in rows],
        SCHEMA,
    )


def _table(spark, path):
    return LakeTable.create(
        spark, path, SCHEMA, ["k"], bucket_count=4,
        props={"merge_keys": ["k"], "order_cols": ["ts", "lsn"]},
    )


def _ops(df):
    return sorted((r["k"], r["op"]) for r in df.collect())


def test_consume_ack_cycle(spark, tmp_table_dir):
    t = _table(spark, tmp_table_dir)
    t.append(_df(spark, [("a", "x", 0, 0), ("b", "y", 1, 1)]))
    t.register_consumer("mart")  # position = current: sees only the future
    ch, to_id = t.consume("mart")
    assert ch.count() == 0 and to_id == t.current_snapshot_id()
    t.ack_consumer("mart", to_id)

    t.append(_df(spark, [("c", "z", 2, 2)]))
    ch, to_id = t.consume("mart")
    assert _ops(ch) == [("c", "I")]
    # crash before ack: the SAME window comes back (at-least-once)
    ch2, to_id2 = t.consume("mart")
    assert to_id2 == to_id and _ops(ch2) == [("c", "I")]
    t.ack_consumer("mart", to_id)
    ch3, _ = t.consume("mart")
    assert ch3.count() == 0


def test_consumer_from_history_start(spark, tmp_table_dir):
    t = _table(spark, tmp_table_dir)
    t.append(_df(spark, [("a", "x", 0, 0)]))
    t.register_consumer("replayer", snapshot_id=0)  # whole history
    ch, _ = t.consume("replayer")
    assert _ops(ch) == [("a", "I")]


def test_consumer_guards(spark, tmp_table_dir):
    t = _table(spark, tmp_table_dir)
    with pytest.raises(KeyError):
        t.consume("ghost")
    with pytest.raises(KeyError):
        t.ack_consumer("ghost", 0)
    t.register_consumer("mart")
    with pytest.raises(ValueError):
        t.register_consumer("mart")  # duplicate registration refused
    t.append(_df(spark, [("a", "x", 0, 0)]))
    sid = t.current_snapshot_id()
    t.ack_consumer("mart", sid)
    with pytest.raises(ValueError):
        t.ack_consumer("mart", 0)  # stale zombie ack cannot rewind
    with pytest.raises(ValueError):
        t.register_consumer("late", snapshot_id=999)  # nonexistent snapshot
    t.drop_consumer("mart")
    with pytest.raises(KeyError):
        t.drop_consumer("mart")
    for bad in ("", "a/b", ".x"):
        for verb in (t.register_consumer, t.consume, t.drop_consumer):
            with pytest.raises(ValueError):
                verb(bad)
        with pytest.raises(ValueError):
            t.ack_consumer(bad, sid)


def test_expiry_retains_consumer_position(spark, tmp_table_dir):
    t = _table(spark, tmp_table_dir)
    t.append(_df(spark, [("a", "x", 0, 0)]))
    pos = t.current_snapshot_id()
    t.register_consumer("lagging", snapshot_id=pos)
    for i in range(6):  # push the position snapshot out of keep_last=2
        t.append(_df(spark, [(f"k{i}", "v", 2 + i, 2 + i)]))
    removed = t.expire_snapshots(keep_last=2)
    assert pos not in removed
    # the lagging consumer can still diff from its position
    ch, to_id = t.consume("lagging")
    assert ch.count() == 6
    # after it acks forward, the old position becomes expirable
    t.ack_consumer("lagging", to_id)
    removed2 = t.expire_snapshots(keep_last=2)
    assert pos in removed2
    assert t.consumers() == {"lagging": to_id}


def test_consumer_drives_mirror_table(spark, tmp_table_dir, tmp_path):
    """The composition the feature exists for: a mirror maintained purely
    from consume/ack cycles equals the source state after every cycle."""
    src = _table(spark, tmp_table_dir)
    mirror = LakeTable.create(
        spark, str(tmp_path / "mirror"), SCHEMA, ["k"], bucket_count=4,
        props={"merge_keys": ["k"], "order_cols": ["ts", "lsn"]},
    )
    src.register_consumer("mirror", snapshot_id=0)

    from data_services_spark.cdc.apply import CdcApplier

    def sync():
        # each consume window applies as one EPOCH (the streaming
        # micro-batch path): a re-delivered window (crash between apply
        # and ack) is an epoch-skip no-op — exactly-once effect without
        # trusting the changelog's per-refresh lsn space to be monotonic
        ch, to_id = src.consume("mirror")
        applier = CdcApplier(
            spark, mirror, with_lineage=False, compact_threshold=None)
        if ch.count():
            applier.apply_chunk(
                ch.select(*[f.name for f in SCHEMA.fields], "op"),
                lo=-1, hi=None, batch_id=to_id, epoch=to_id,
            )
        src.ack_consumer("mirror", to_id)

    src.append(_df(spark, [("a", "x", 0, 0), ("b", "y", 1, 1)]))
    sync()
    src.append(_df(spark, [("a", "x2", 2, 2), ("c", "z", 3, 3)]))
    sync()
    got = sorted(tuple(r) for r in mirror.read().select("k", "v").collect())
    # the plain-append source holds BOTH versions of a re-written key in
    # its base files; the changelog (and hence the mirror) carries the
    # per-key LWW resolution — compare against that
    from pyspark.sql import Window

    w = Window.partitionBy("k").orderBy(F.desc("ts"), F.desc("lsn"))
    resolved = (
        src.read().withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
    )
    want = sorted(tuple(r) for r in resolved.select("k", "v").collect())
    assert got == want
