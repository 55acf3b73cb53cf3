"""Lake table format: atomic snapshots, time travel, bucket pruning,
additive schema evolution, snapshot expiry, commit conflicts."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_services_spark.lake import CommitConflict, LakeTable

SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType(), False),
        T.StructField("i", T.IntegerType(), False),
        T.StructField("v", T.StringType(), True),
    ]
)


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def test_create_read_empty(spark, tmp_table_dir):
    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, ["k"], bucket_count=4)
    assert t.read().count() == 0
    assert t.current_snapshot_id() == 0


def test_append_and_time_travel(spark, tmp_table_dir):
    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, ["k"], bucket_count=4)
    t.append(_df(spark, [("a", 1, "x")]), summary={"step": 1})
    t.append(_df(spark, [("b", 2, "y")]), summary={"step": 2})
    assert t.read().count() == 2
    assert t.read(snapshot_id=1).count() == 1
    assert t.snapshot().summary == {"step": 2}
    ops = [s.operation for s in t.snapshots()]
    assert ops == ["create", "append", "append"]


def test_bucket_pruned_read(spark, tmp_table_dir):
    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, ["k"], bucket_count=4)
    rows = [(f"k{i}", i, "v") for i in range(100)]
    t.append(_df(spark, rows))
    snap = t.snapshot()
    total = 0
    for b in range(4):
        files = snap.bucket_files.get(str(b), [])
        n = t.read(buckets=[b]).count()
        total += n
        if n:
            assert files, f"bucket {b} has rows but no files"
    assert total == 100
    # rows in a pruned read really belong to that bucket
    b0 = t.read(buckets=[0]).withColumn("_b", t.bucket_col())
    assert b0.where(F.col("_b") != 0).count() == 0


def test_replace_buckets_carries_others(spark, tmp_table_dir):
    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, ["k"], bucket_count=4)
    rows = [(f"k{i}", i, "old") for i in range(40)]
    t.append(_df(spark, rows))
    snap0 = t.snapshot()
    # rewrite bucket 0 only
    new_b0 = t.read(buckets=[0]).withColumn("v", F.lit("new"))
    t.replace_buckets(new_b0, [0])
    snap1 = t.snapshot()
    assert snap1.bucket_files["1"] == snap0.bucket_files["1"]  # carried by ref
    assert snap1.bucket_files["0"] != snap0.bucket_files.get("0")
    df = t.read()
    assert df.count() == 40
    got = {r["v"] for r in df.withColumn("_b", t.bucket_col()).where("_b = 0").collect()}
    assert got == {"new"}
    got_other = {r["v"] for r in df.withColumn("_b", t.bucket_col()).where("_b != 0").collect()}
    assert got_other == {"old"}


def test_additive_schema_evolution(spark, tmp_table_dir):
    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, ["k"], bucket_count=2)
    t.append(_df(spark, [("a", 1, "x")]))
    evolved = spark.createDataFrame(
        [("b", 2, "y", "extra")],
        T.StructType(SCHEMA.fields + [T.StructField("w", T.StringType(), True)]),
    )
    t.append(evolved)
    df = t.read().orderBy("k")
    assert df.columns == ["k", "i", "v", "w"]
    rows = df.collect()
    assert rows[0]["w"] is None and rows[1]["w"] == "extra"
    # pruned read of a bucket holding only OLD files still shows the new col
    for b in range(2):
        assert t.read(buckets=[b]).columns == ["k", "i", "v", "w"]
    # non-additive change rejected
    bad = spark.createDataFrame([("c", "not-int", "z")], "k string, i string, v string")
    with pytest.raises(ValueError, match="non-additive"):
        t.append(bad)


def test_commit_conflict(spark, tmp_table_dir):
    t1 = LakeTable.create(spark, tmp_table_dir, SCHEMA, ["k"], bucket_count=2)
    t2 = LakeTable(spark, tmp_table_dir)
    snap = t1.snapshot()
    t1.append(_df(spark, [("a", 1, "x")]))
    with pytest.raises(CommitConflict):
        t2.replace_buckets(_df(spark, [("b", 2, "y")]), [0], expected_parent=snap.snapshot_id)


def test_expire_snapshots(spark, tmp_table_dir):
    import os

    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, ["k"], bucket_count=2)
    for i in range(6):
        t.overwrite(_df(spark, [(f"k{i}", i, "v")]))
    live_before = set(t.snapshot().all_files())
    removed = t.expire_snapshots(keep_last=2)
    assert removed  # something expired
    assert t.read().count() == 1  # current state intact
    for f in live_before:
        assert os.path.exists(os.path.join(t.path, f))


def test_append_retries_past_racing_writer(spark, tmp_table_dir, monkeypatch):
    """Two writers race one append: the loser hits CommitConflict, retries
    with backoff against the fresh snapshot, and BOTH writers' rows land."""
    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, ["k"], bucket_count=4)
    real_snapshot = LakeTable.snapshot
    state = {"fired": False}

    def hooked(self, snapshot_id=None):
        s = real_snapshot(self, snapshot_id)
        if not state["fired"] and snapshot_id is None:
            # a competing writer commits AFTER this writer read its
            # snapshot -> this writer's first commit attempt must conflict
            state["fired"] = True
            LakeTable(spark, tmp_table_dir).append(_df(spark, [("b", 2, "vb")]))
        return s

    monkeypatch.setattr(LakeTable, "snapshot", hooked)
    snap = t.append(_df(spark, [("a", 1, "va")]))
    monkeypatch.undo()
    assert snap.operation == "append"
    rows = {r["k"] for r in t.read().collect()}
    assert rows == {"a", "b"}  # loser retried; neither write lost


def test_retry_commit_exhaustion_raises():
    """When every attempt conflicts, the bounded retry surfaces
    CommitConflict instead of looping forever."""
    from data_services_spark.lake.table import retry_commit

    calls = {"n": 0}

    def always_conflict():
        calls["n"] += 1
        raise CommitConflict("forced")

    with pytest.raises(CommitConflict):
        retry_commit(always_conflict, retries=3, base_sleep=0.001)
    assert calls["n"] == 3


def test_changes_between_snapshots(spark, tmp_table_dir):
    """Changelog read: I/U/D between snapshots with bucket-level metadata
    pruning (untouched buckets never open a file)."""
    from pyspark.sql import functions as F

    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, ["k"], bucket_count=8)
    t.append(_df(spark, [("a", 1, "v1"), ("b", 2, "v1"), ("c", 3, "v1")]))
    s1 = t.current_snapshot_id()
    # replace only the buckets containing 'a' (update) — add 'd' (insert)
    snap = t.snapshot()
    from data_services_spark.lake.table import _bucket_expr

    full = t.read()
    bucket_of = {
        r["k"]: r["b"]
        for r in full.withColumn(
            "b", _bucket_expr(["k"], 8, snap.bucket_fn)
        ).collect()
    }
    affected = sorted({bucket_of["a"], int(
        spark.createDataFrame([("d",)], "k string")
        .withColumn("b", _bucket_expr(["k"], 8, snap.bucket_fn))
        .collect()[0]["b"]
    )})
    updated = full.where(F.col("k").isin([k for k, b in bucket_of.items() if b in affected])) \
                  .withColumn("v", F.when(F.col("k") == "a", "v2").otherwise(F.col("v")))
    updated = updated.unionByName(_df(spark, [("d", 4, "v1")]))
    t.replace_buckets(updated, affected)
    s2 = t.current_snapshot_id()

    diff = {r["k"]: r["op"] for r in t.changes_between(s1, s2).collect()}
    assert diff.get("a") == "U" and diff.get("d") == "I"
    assert "b" not in diff or bucket_of["b"] in affected  # untouched rows absent
    # no changes between identical snapshots
    assert t.changes_between(s2, s2).count() == 0


def test_changes_between_replayable(spark, tmp_table_dir, tmp_path):
    """The changelog of one lake replays into a second CdcApplier target and
    reproduces the same final state (lake as CDC source)."""
    from pyspark.sql import functions as F

    from data_services_spark.cdc.apply import CdcApplier
    from data_services_spark.cdc.generator import generate_changes

    a = CdcApplier.bootstrap(spark, str(tmp_path / "src_lake"), bucket_count=8)
    wave1 = generate_changes(spark, 1500, n_convs=80, max_turns=8, seed=21)
    a.replay(wave1, chunk_size=1500)
    s1 = a.target.current_snapshot_id()
    wave2 = generate_changes(spark, 800, n_convs=80, max_turns=8, seed=22) \
        .withColumn("lsn", F.col("lsn") + 5_000)
    a.replay(wave2, chunk_size=800)
    s2 = a.target.current_snapshot_id()

    b = CdcApplier.bootstrap(spark, str(tmp_path / "dst_lake"), bucket_count=8)
    # bootstrap dst with the s1 state, then apply only the changelog
    base = a.target.read(snapshot_id=s1)
    boot = base.withColumn("op", F.lit("I")).select(
        "lsn", "op", "ts", "conv_id", "turn_idx", "role", "text", "tool"
    )
    b.replay(boot, chunk_size=10_000)
    changelog = a.target.changes_between(s1, s2).select(
        "lsn", "op", "ts", "conv_id", "turn_idx", "role", "text", "tool"
    )
    b.replay(changelog, chunk_size=10_000)

    src = {(r["conv_id"], r["turn_idx"]): (r["role"], r["text"])
           for r in a.target.read().collect()}
    dst = {(r["conv_id"], r["turn_idx"]): (r["role"], r["text"])
           for r in b.target.read().collect()}
    assert src == dst


def test_rebucket_preserves_state_and_resolves_deltas(spark, tmp_table_dir):
    t = LakeTable.create(
        spark, tmp_table_dir, SCHEMA, ["k"], bucket_count=2,
        props={"merge_keys": ["k"], "order_cols": ["i"]},
    )
    t.append(_df(spark, [("a", 1, "x"), ("b", 1, "y"), ("c", 1, "z")]),
             summary={"offsets": {"last_lsn": 9}})
    # MOR delta: update 'b', delete nothing
    delta = _df(spark, [("b", 2, "y2")]).withColumn("op", F.lit("U"))
    t.append_delta(delta, summary={"offsets": {"last_lsn": 11}})
    before = sorted(tuple(r) for r in t.read().collect())
    assert ("b", 2, "y2") in before

    snap = t.rebucket(16)
    assert snap.operation == "rebucket"
    assert t.bucket_count == 16
    assert snap.delta_files == {}  # starts read-optimised
    assert sorted(tuple(r) for r in t.read().collect()) == before
    # stream progress carried through the resize
    assert snap.summary["offsets"]["last_lsn"] == 11
    # time travel still reads the old layout
    assert sorted(tuple(r) for r in t.read(snapshot_id=2).collect()) == before
    # rows land in their recomputed buckets: pruned read of every bucket
    # reassembles exactly the table
    per_bucket = [t.read(buckets=[b]).count() for b in range(16)]
    assert sum(per_bucket) == 3


def test_rebucket_then_writes_use_new_layout(spark, tmp_table_dir):
    t = LakeTable.create(
        spark, tmp_table_dir, SCHEMA, ["k"], bucket_count=2,
        props={"merge_keys": ["k"], "order_cols": ["i"]},
    )
    t.append(_df(spark, [(f"k{n}", 1, "v") for n in range(20)]))
    t.rebucket(8)
    t.append(_df(spark, [("new", 1, "w")]))
    assert t.read().count() == 21
    # the post-resize append wrote into one of the 8 new buckets
    assert t.bucket_count == 8
    got = {r["k"] for r in t.read().collect()}
    assert "new" in got and "k7" in got


def test_changelog_empty_across_rebucket_and_tombstone_expiry(spark, tmp_table_dir):
    """Maintenance commits (rebucket, tombstone GC) rewrite files but not
    logical state: the changelog between the surrounding snapshots must be
    empty — a downstream incremental consumer sees nothing to replay."""
    t = LakeTable.create(
        spark, tmp_table_dir, SCHEMA, ["k"], bucket_count=2,
        props={"merge_keys": ["k"], "order_cols": ["i"]},
    )
    t.append(_df(spark, [("a", 1, "x"), ("b", 1, "y")]))
    # delete 'b' via a tombstone delta, then compact (tombstone into base)
    t.append_delta(_df(spark, [("b", 2, None)]).withColumn("op", F.lit("D")))
    t.compact()
    pre = t.current_snapshot_id()
    t.rebucket(8)
    t.expire_tombstones()
    assert t.changes_between(pre).count() == 0
    assert t.read().count() == 1  # 'b' stays deleted through both rewrites


def test_describe_metadata_only_health(spark, tmp_table_dir):
    t = LakeTable.create(
        spark, tmp_table_dir, SCHEMA, ["k"], bucket_count=4,
        props={"merge_keys": ["k"], "order_cols": ["i"]},
    )
    t.append(_df(spark, [("a", 1, "x"), ("b", 1, "y")]),
             summary={"offsets": {"last_lsn": 7}, "batch_id": 3})
    t.append_delta(_df(spark, [("b", 2, None)]).withColumn("op", F.lit("D")))
    d = t.describe()
    assert d["bucket_count"] == 4 and d["n_base_files"] >= 1
    assert d["delta_bearing_buckets"] == 1 and d["max_delta_layers"] == 1
    assert d["base_tombstones"] is False
    assert d["committed_lsn"] is None or isinstance(d["committed_lsn"], int)
    t.compact()
    d2 = t.describe()
    assert d2["n_delta_files"] == 0 and d2["base_tombstones"] is True


def test_lookup_point_read_prunes_and_resolves_lww(spark, tmp_table_dir):
    t = LakeTable.create(
        spark, tmp_table_dir, SCHEMA, ["k"], bucket_count=8,
        props={"merge_keys": ["k"], "order_cols": ["i"]},
    )
    t.append(_df(spark, [(f"k{i}", 1, f"v{i}") for i in range(24)]))
    # MOR delta: k3 updated — lookup must resolve the winner, and k5 deleted
    t.append_delta(
        _df(spark, [("k3", 2, "v3b"), ("k5", 2, "gone")]).withColumn(
            "op", F.when(F.col("k") == "k5", "D").otherwise("U")
        )
    )
    got = {(r.k, r.i, r.v) for r in t.lookup(
        [{"k": "k3"}, {"k": "k5"}, {"k": "k19"}, {"k": "missing"}]
    ).collect()}
    assert got == {("k3", 2, "v3b"), ("k19", 1, "v19")}
    # pruning: a single-key lookup scans a strict subset of the files a
    # full read opens (one bucket of eight)
    full_files = set(t.read().inputFiles())
    needle_files = set(t.lookup([{"k": "k19"}]).inputFiles())
    assert needle_files and needle_files < full_files
    # a key prefix cannot prune: missing bucket key is an explicit error
    t2 = LakeTable.create(
        spark, tmp_table_dir + "_2", SCHEMA, ["k", "i"], bucket_count=4,
        props={"merge_keys": ["k", "i"]},
    )
    t2.append(_df(spark, [("a", 1, "x")]))
    import pytest as _pytest
    with _pytest.raises(ValueError, match="every bucket key"):
        t2.lookup([{"k": "a"}])


def test_type_widening_evolution(spark, tmp_table_dir):
    """int->long / float->double widening is a metadata-only commit: old
    narrow parquet files upcast under the widened read schema (Iceberg
    safe-promotion rules); later narrow writers keep the wide schema."""
    schema = T.StructType(
        [
            T.StructField("k", T.StringType(), False),
            T.StructField("i", T.IntegerType(), True),
            T.StructField("f", T.FloatType(), True),
        ]
    )
    t = LakeTable.create(spark, tmp_table_dir, schema, ["k"], bucket_count=2)
    t.append(spark.createDataFrame([("a", 1, 1.5)], schema))
    t.append(
        spark.createDataFrame(
            [("b", 2**40, 2.5)], "k string, i bigint, f double"
        )
    )
    df = t.read().orderBy("k")
    assert dict(df.dtypes) == {"k": "string", "i": "bigint", "f": "double"}
    rows = df.collect()
    assert [r["i"] for r in rows] == [1, 2**40]
    assert [r["f"] for r in rows] == [1.5, 2.5]
    # a narrower writer after the widen: accepted, schema stays wide
    t.append(spark.createDataFrame([("c", 3, 3.5)], schema))
    df = t.read()
    assert dict(df.dtypes)["i"] == "bigint"
    assert df.where("k = 'c'").collect()[0]["i"] == 3
    # time travel to the pre-widen snapshot keeps the narrow schema
    assert dict(t.read(snapshot_id=1).dtypes)["i"] == "int"
    # incompatible change still rejected
    with pytest.raises(ValueError, match="non-additive"):
        t.append(spark.createDataFrame([("d", "no", 1.0)], "k string, i string, f double"))
    # narrowing long -> int on a long column is NOT a schema change
    # (covered by the ("c", 3, 3.5) append above); double -> float same:
    assert dict(t.read().dtypes)["f"] == "double"


def test_type_widening_bucket_key_rejected(spark, tmp_table_dir):
    """Widening a bucket-key column is refused: hash(int) != hash(long) in
    Spark, so an in-place widen would scatter existing keys to the wrong
    buckets. The error points at rebucket()."""
    schema = T.StructType(
        [
            T.StructField("k", T.IntegerType(), False),
            T.StructField("v", T.StringType(), True),
        ]
    )
    t = LakeTable.create(spark, tmp_table_dir, schema, ["k"], bucket_count=2)
    t.append(spark.createDataFrame([(1, "x")], schema))
    with pytest.raises(ValueError, match="rebucket"):
        t.append(spark.createDataFrame([(2**40, "y")], "k bigint, v string"))


def test_tags_named_refs(spark, tmp_table_dir):
    """Snapshot tags: immutable named refs (dataset-release handles) —
    read_tag resolves by name, re-tagging refuses, tagged snapshots
    survive aggressive expiry until the tag is dropped."""
    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, ["k"], bucket_count=4)
    t.append(_df(spark, [("a", 1, "x")]))
    t.tag("release-v1")
    assert t.tags() == {"release-v1": 1}
    for step in range(2, 9):
        t.append(_df(spark, [(f"k{step}", step, "y")]))
    assert t.read_tag("release-v1").count() == 1  # frozen view by name
    assert t.read().count() == 8

    with pytest.raises(ValueError, match="already exists"):
        t.tag("release-v1", snapshot_id=3)  # tags never silently move

    # aggressive expiry: the tagged snapshot is pinned, the rest expire
    expired = t.expire_snapshots(keep_last=2)
    assert expired and 1 not in expired
    assert t.read_tag("release-v1").count() == 1  # still readable
    assert t.describe()["tags"] == {"release-v1": 1}

    # dropping the tag releases the pin; the next expiry sweeps it
    t.drop_tag("release-v1")
    assert 1 in t.expire_snapshots(keep_last=2)
    with pytest.raises(KeyError):
        t.read_tag("release-v1")
    with pytest.raises(ValueError):
        t.tag("later", snapshot_id=1)  # can't tag an expired snapshot


# ------------------------------------------------ driver-side append_rows
def _lineage_rows():
    import datetime as dt


    utc = dt.timezone.utc
    ist = dt.timezone(dt.timedelta(hours=5, minutes=30))
    keys = [0, 1, 2, 3, -1, -7, 13, 2**31 - 1, -(2**31 - 1), -(2**31)]
    rows = []
    for i, k in enumerate(keys):
        naive = dt.datetime(2024, 3, 10, 1, 30, 0, 123456) + dt.timedelta(hours=i)
        aware = dt.datetime(2024, 11, 3, 8, 59, 59, 999999, tzinfo=utc if i % 2 else ist)
        rows.append({
            "batch_id": 100 + i, "source_partition": k,
            "n_events": i * 10, "n_upserts": None if i == 3 else i,
            "n_deletes": 0, "n_quarantined": None,
            "min_lsn": -i if i % 3 else None, "max_lsn": 2**62 + i,
            "min_ts": naive, "max_ts": aware if i != 5 else None,
            "status": None if i == 4 else "ok", "duration_ms": i,
        })
    return rows


def _metrics_rows():
    return [
        {"batch_id": b, "epoch": None if b % 2 else b, "hi_lsn": 1000 * b,
         "n_events": 5, "n_upserts": 4, "n_deletes": 1, "n_quarantined": 0,
         "n_winner_rows": None, "n_affected_buckets": 3, "duration_ms": 17}
        for b in range(6)
    ]


def _readback(t, schema):
    ts_cols = [f.name for f in schema.fields
               if isinstance(f.dataType, T.TimestampType)]
    df = t.read()
    # raw UTC micros too: equality must not hinge on the collect-side
    # local-time conversion both paths share
    df = df.select("*", *[F.unix_micros(c).alias(f"_us_{c}") for c in ts_cols])
    return sorted(df.collect(), key=lambda r: (r["batch_id"], str(r)))


def _bucket_keys_on_disk(t, key):
    import os

    import pyarrow.parquet as pq

    out = {}
    for b, files in t.snapshot().bucket_files.items():
        out[int(b)] = sorted(
            v for f in files
            for v in pq.read_table(os.path.join(t.path, f)).column(key).to_pylist()
        )
    return out


@pytest.mark.parametrize("n_buckets", [4, 7])
def test_append_rows_matches_spark_append_lineage(spark, tmp_path, n_buckets):
    """append_rows ≡ append(createDataFrame(rows, schema)): same rows read
    back (nulls, naive and tz-aware timestamps under a non-UTC session
    zone), and every int key lands in Spark's pmod(hash(k), n) bucket."""
    import os
    import time

    from data_services_spark.cdc.schemas import LINEAGE_SCHEMA

    rows = _lineage_rows()
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    old_env = os.environ.get("TZ")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    os.environ["TZ"] = "Australia/Adelaide"  # naive = process-local time
    time.tzset()
    try:
        drv = LakeTable.create(spark, str(tmp_path / "drv"), LINEAGE_SCHEMA,
                               ["source_partition"], n_buckets)
        ref = LakeTable.create(spark, str(tmp_path / "ref"), LINEAGE_SCHEMA,
                               ["source_partition"], n_buckets)
        snap = drv.append_rows(rows, summary={"batch_id": 7})
        ref.append(spark.createDataFrame(rows, LINEAGE_SCHEMA),
                   summary={"batch_id": 7})
        assert snap.operation == "append" and snap.summary == {"batch_id": 7}
        assert drv.snapshot().schema == ref.snapshot().schema
        got = _readback(drv, LINEAGE_SCHEMA)
        assert got == _readback(ref, LINEAGE_SCHEMA)
        assert len(got) == len(rows)
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
        if old_env is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_env
        time.tzset()

    placed = _bucket_keys_on_disk(drv, "source_partition")
    assert placed == _bucket_keys_on_disk(ref, "source_partition")
    want: dict[int, list[int]] = {}
    for r in spark.createDataFrame(
        [(r["source_partition"],) for r in rows], "k int"
    ).select("k", F.pmod(F.hash("k"), F.lit(n_buckets)).alias("b")).collect():
        want.setdefault(r["b"], []).append(r["k"])
    assert placed == {b: sorted(ks) for b, ks in want.items()}
    # a second append_rows commit stacks on the first (carried files)
    drv.append_rows(rows[:2])
    assert drv.read().count() == len(rows) + 2


def test_append_rows_matches_spark_append_metrics(spark, tmp_path):
    """1-bucket control table (metrics, keyed by a long): everything lands
    in bucket 0, identical to the Spark write."""
    from data_services_spark.cdc.schemas import METRICS_SCHEMA

    rows = _metrics_rows()
    drv = LakeTable.create(spark, str(tmp_path / "drv"), METRICS_SCHEMA,
                           ["batch_id"], 1)
    ref = LakeTable.create(spark, str(tmp_path / "ref"), METRICS_SCHEMA,
                           ["batch_id"], 1)
    drv.append_rows(rows, summary={"batch_id": 5})
    ref.append(spark.createDataFrame(rows, METRICS_SCHEMA))
    assert _readback(drv, METRICS_SCHEMA) == _readback(ref, METRICS_SCHEMA)
    assert set(drv.snapshot().bucket_files) == {"0"}
    assert _bucket_keys_on_disk(drv, "batch_id") == _bucket_keys_on_disk(
        ref, "batch_id"
    )
    # a NULL int key lands where Spark puts it (hash(NULL) is the seed)
    nullable = T.StructType([T.StructField("k", T.IntegerType(), True),
                             T.StructField("v", T.StringType(), True)])
    krows = [{"k": None, "v": "n"}, {"k": 0, "v": "x"}, {"k": -2, "v": "y"}]
    drv = LakeTable.create(spark, str(tmp_path / "drv_k"), nullable, ["k"], 4)
    ref = LakeTable.create(spark, str(tmp_path / "ref_k"), nullable, ["k"], 4)
    drv.append_rows(krows)
    ref.append(spark.createDataFrame(krows, nullable))
    on_disk = _bucket_keys_on_disk(drv, "v")
    assert on_disk == _bucket_keys_on_disk(ref, "v")
    assert on_disk == {2: ["n"], 3: ["x"], 1: ["y"]}


def test_append_rows_rejects_bad_rows_and_key_shapes(spark, tmp_path):
    from data_services_spark.cdc.schemas import LINEAGE_SCHEMA, METRICS_SCHEMA

    lin = LakeTable.create(spark, str(tmp_path / "lin"), LINEAGE_SCHEMA,
                           ["source_partition"], 4)
    row = _lineage_rows()[0]
    with pytest.raises(ValueError, match="differ from the table schema"):
        lin.append_rows([{**row, "extra": 1}])
    missing = dict(row)
    del missing["status"]
    with pytest.raises(ValueError, match="differ from the table schema"):
        lin.append_rows([row, missing])
    with pytest.raises(ValueError, match="non-nullable"):
        # the bad row's bucket (3) sorts after a good one's (2): still
        # nothing lands
        lin.append_rows(_lineage_rows()[:4] + [{**row, "source_partition": 3,
                                                "batch_id": None}])
    # multi-bucket tables need ONE int key: a string key, a long key and
    # a composite key all refuse (Spark hashes them differently)
    for name, schema, keys in (
        ("s", SCHEMA, ["k"]),
        ("l", METRICS_SCHEMA, ["batch_id"]),
        ("c", SCHEMA, ["i", "k"]),
    ):
        t = LakeTable.create(spark, str(tmp_path / name), schema, keys, 4)
        r = {f.name: None for f in schema.fields}
        with pytest.raises(ValueError, match="one int bucket key"):
            t.append_rows([r])
    assert lin.current_snapshot_id() == 0
    assert not (tmp_path / "lin" / "data").exists()


def test_append_rows_crash_before_commit_leaves_only_orphans(
    spark, tmp_path, monkeypatch
):
    """A crash between the pyarrow file write and the commit: no snapshot
    sees the files, reads are unchanged, and remove_orphan_files — not
    expire_snapshots — reclaims exactly those files."""
    import os

    from data_services_spark.cdc.schemas import LINEAGE_SCHEMA

    t = LakeTable.create(spark, str(tmp_path / "lin"), LINEAGE_SCHEMA,
                         ["source_partition"], 4)
    rows = _lineage_rows()
    t.append_rows(rows[:3])
    live = set(t.snapshot().all_files())

    def crash(*a, **k):
        raise RuntimeError("crash before commit")

    monkeypatch.setattr(LakeTable, "_commit_append", crash)
    with pytest.raises(RuntimeError, match="crash before commit"):
        t.append_rows(rows)
    monkeypatch.undo()

    assert t.current_snapshot_id() == 1
    assert t.read().count() == 3
    on_disk = {
        os.path.relpath(os.path.join(dp, f), t.path)
        for dp, _, fs in os.walk(os.path.join(t.path, "data")) for f in fs
    }
    orphans = on_disk - live
    assert orphans and all(f.endswith(".parquet") for f in orphans)
    t.expire_snapshots(keep_last=1, orphan_grace_sec=0)
    assert orphans <= {
        os.path.relpath(os.path.join(dp, f), t.path)
        for dp, _, fs in os.walk(os.path.join(t.path, "data")) for f in fs
    }
    assert sorted(t.remove_orphan_files(older_than_sec=0)) == sorted(orphans)
    assert t.read().count() == 3
