"""The key-restricted changelog: when a snapshot range only appended
delta layers, ``LakeTable.changes_between`` folds the keys of the added
delta files on the driver in Arrow and diffs them with no Spark job. It
must equal the Spark bucket diff row for row — rows, order, LSNs and
schema — and every other range must take the bucket diff.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from data_services_spark.lake import table as table_mod
from data_services_spark.lake.table import LakeTable

EPOCH = dt.datetime(2025, 1, 1)
SCHEMA = T.StructType([
    T.StructField("k", T.StringType(), True),
    T.StructField("j", T.IntegerType(), True),
    T.StructField("v", T.StringType(), True),
    T.StructField("n", T.LongType(), True),
    T.StructField("d", T.DoubleType(), True),
    T.StructField("ts", T.TimestampType(), True),
    T.StructField("lsn", T.LongType(), True),
])
DELTA_DDL = ("k string, j int, v string, n long, d double, ts timestamp, lsn long, "
             "op string")
KEYS = ["k", "j"]


def _create(spark, path, engine=None, buckets=4):
    props = {"merge_keys": KEYS, "order_cols": ["ts", "lsn"]}
    if engine:
        props["merge_engine"] = engine
    return LakeTable.create(spark, path, SCHEMA, KEYS, bucket_count=buckets,
                            props=props)


def _delta(spark, t, rows, hi):
    """rows: (k, j, v, n, second, lsn, op[, d]); commits one delta layer."""
    data = [
        (k, j, v, n, d[0] if d else 0.5, EPOCH + dt.timedelta(seconds=s), lsn, op)
        for k, j, v, n, s, lsn, op, *d in rows
    ]
    return t.append_delta(spark.createDataFrame(data, DELTA_DDL),
                          summary={"offsets": {"last_lsn": hi}})


@contextlib.contextmanager
def _bucket_diff():
    """Force the Spark bucket diff (no range fits a negative byte cap)."""
    cap = table_mod._DRIVER_READ_MAX_BYTES
    table_mod._DRIVER_READ_MAX_BYTES = -1
    try:
        yield
    finally:
        table_mod._DRIVER_READ_MAX_BYTES = cap


def _nan_safe(tbl):
    """Float columns as text, so NaN equals NaN (and stays apart from NULL)."""
    return pa.table({
        f.name: pc.cast(c, pa.string()) if pa.types.is_floating(f.type) else c
        for f, c in zip(tbl.schema, tbl.columns)
    })


def _both(t, frm, to, with_before):
    """(driver result, bucket-diff result) as Arrow tables in lsn order,
    float columns as text, plus the two Spark schemas."""
    fast = t.changes_between(frm, to, with_before=with_before)
    with _bucket_diff():
        slow = t.changes_between(frm, to, with_before=with_before)
    got, want = fast.toArrow(), slow.toArrow().sort_by("lsn")
    assert got.schema == want.schema
    return _nan_safe(got), _nan_safe(want), fast.schema, slow.schema


def _jobs_started(spark, fn):
    """(fn(), the Spark jobs it started), under a job group of its own."""
    sc = spark.sparkContext
    group = f"changelog-probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "changelog routing probe")
    try:
        out = fn()
        return out, list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _no_driver_diff(monkeypatch):
    calls = []
    real = LakeTable._driver_diff

    def spy(self, *a, **kw):
        calls.append(a)
        return real(self, *a, **kw)

    monkeypatch.setattr(LakeTable, "_driver_diff", spy)
    return calls


ROWS = [("a", 1, "x", 1, 0, 0, "I"), ("b", 1, "y", 2, 0, 1, "I"),
        ("c", 2, "z", 3, 0, 2, "I"), ("d", 3, "w", 4, 0, 3, "I")]


def test_appended_range_diffs_on_driver_with_no_spark_job(spark, tmp_path):
    t = _create(spark, str(tmp_path / "lake"))
    _delta(spark, t, ROWS, 3)
    t.compact()
    s1 = t.current_snapshot_id()
    _delta(spark, t, [("a", 1, "x2", 1, 5, 10, "U"), ("e", 1, "n", 5, 5, 11, "I")], 11)
    # a stale update of c loses to its base row: c does not change
    _delta(spark, t, [("b", 1, None, 2, 6, 12, "D"), ("c", 2, "old", 3, 0, 1, "U")], 13)
    for wb in (False, True):
        df, jobs = _jobs_started(spark, lambda: t.changes_between(s1, with_before=wb))
        assert jobs == []
        rows = {(r["k"], r["op"], r["lsn"]) for r in df.collect()}
        # LSNs dense from the target's last_lsn + 1, in key order
        assert rows == {("a", "U", 14), ("b", "D", 15), ("e", "I", 16)}
    # the forced bucket diff does start jobs: the probe can see them
    with _bucket_diff():
        _, jobs = _jobs_started(spark, lambda: t.changes_between(s1))
    assert jobs


def test_ranges_that_rewrite_files_take_the_bucket_diff(spark, tmp_path, monkeypatch):
    calls = _no_driver_diff(monkeypatch)
    t = _create(spark, str(tmp_path / "lake"))
    _delta(spark, t, ROWS, 3)
    s0 = t.current_snapshot_id()
    _delta(spark, t, [("a", 1, "x2", 1, 5, 10, "U")], 10)
    s1 = t.current_snapshot_id()
    assert t.changes_between(s0, s1).count() == 1 and len(calls) == 1

    def fallback(frm, to=None):
        n = len(calls)
        out = {(r["k"], r["op"]) for r in t.changes_between(frm, to).collect()}
        assert len(calls) == n, "took the driver diff"
        return out

    assert fallback(s1, s0) == {("a", "U")}  # a reverse range
    t.compact()
    assert fallback(s0) == {("a", "U")}  # a compaction in the range
    s2 = t.current_snapshot_id()
    t.erase(spark.createDataFrame([("b", 1)], "k string, j int"))
    assert fallback(s2) == {("b", "D")}  # an erase
    s3 = t.current_snapshot_id()
    _delta(spark, t, [("c", 2, "z2", 3, 7, 20, "U")], 20)
    t.rebucket(8)
    assert fallback(s3) == {("c", "U")}  # a rebucket
    s4 = t.current_snapshot_id()
    _delta(spark, t, [("d", 3, "w2", 4, 8, 21, "U")], 21)
    assert t.changes_between(s4).count() == 1 and len(calls) == 2
    monkeypatch.setattr(table_mod, "_DRIVER_READ_MAX_BYTES", 1)
    assert fallback(s4) == {("d", "U")}  # over the driver's byte cap


def test_bucket_diff_leaves_no_cache_entry(spark, tmp_path):
    """The bucket diff's dense LSNs come from a local checkpoint, not a
    cache entry that the returned frame could never unpersist."""
    t = _create(spark, str(tmp_path / "lake"))
    _delta(spark, t, ROWS, 3)
    s0 = t.current_snapshot_id()
    _delta(spark, t, [("a", 1, "x2", 1, 5, 10, "U")], 10)
    spark.catalog.clearCache()  # entries other tests left
    with _bucket_diff():
        rows = t.changes_between(s0).collect()
    assert [(r["k"], r["op"], r["lsn"]) for r in rows] == [("a", "U", 11)]
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_patch_table_changelog_takes_the_bucket_diff(spark, tmp_path, monkeypatch):
    calls = _no_driver_diff(monkeypatch)
    t = LakeTable.create(
        spark, str(tmp_path / "lake"), SCHEMA, KEYS, bucket_count=4,
        props={"merge_keys": KEYS, "order_cols": ["ts", "lsn"],
               "merge_engine": "partial_update"},
    )
    s0 = t.current_snapshot_id()
    _delta(spark, t, [r[:-1] + ("U",) for r in ROWS], 3)  # full-row writes
    assert t.changes_between(s0).count() == 4 and not calls


@pytest.mark.parametrize("with_before", [False, True], ids=["after", "before"])
def test_changelog_across_an_added_column(spark, tmp_path, with_before):
    """A column added between the snapshots is NULL on the from side (it
    raised UNRESOLVED_COLUMN p.score on both paths)."""
    t = _create(spark, str(tmp_path / "lake"))
    _delta(spark, t, ROWS, 3)
    s1 = t.current_snapshot_id()
    wide = spark.createDataFrame(
        [("a", 1, "x", 1, 0.5, EPOCH, 10, "U", 7.5),
         ("e", 1, "n", 5, 0.5, EPOCH, 11, "I", None)],
        DELTA_DDL + ", score double",
    )
    t.append_delta(wide, summary={"offsets": {"last_lsn": 11}})
    got, want, fast_schema, slow_schema = _both(t, s1, None, with_before)
    assert got.equals(want) and fast_schema == slow_schema
    rows = {r["k"]: r for r in got.to_pylist()}
    assert set(rows) == {"a", "e"}
    assert (rows["a"]["op"], rows["a"]["score"]) == ("U", "7.5")
    assert (rows["e"]["op"], rows["e"]["score"]) == ("I", None)
    if with_before:
        assert rows["a"]["_prev_score"] is None and rows["a"]["_prev_lsn"] == 0


# ------------------------------------------------------------ equality
KEY_K = st.sampled_from(["a", "Z", "é", "ß", "日本", "", None])
EVENT = st.tuples(
    KEY_K,
    st.sampled_from([0, 1, None]),                    # j
    st.sampled_from(["x", "ÿ", None]),                # v (NULL payloads)
    st.sampled_from([0, 7, None]),                    # n
    st.integers(min_value=0, max_value=6),            # ts second (stale likely)
    st.sampled_from(["I", "U", "D", "D"]),            # deletes often
    st.sampled_from([0.5, float("nan"), None]),       # d: NaN equals NaN
)
CHUNK = st.tuples(st.lists(EVENT, min_size=1, max_size=8),
                  st.sampled_from([False, False, True]))  # compact after it


@contextlib.contextmanager
def _int96(spark, on):
    """A lake written under Spark's INT96 default: pyarrow reads its
    timestamps back as naive nanoseconds."""
    if not on:
        yield
        return
    conf = "spark.sql.parquet.outputTimestampType"
    prev, pin = spark.conf.get(conf), table_mod._pin_portable_write_conf
    table_mod._pin_portable_write_conf = lambda s: None
    spark.conf.set(conf, "INT96")
    try:
        yield
    finally:
        table_mod._pin_portable_write_conf = pin
        spark.conf.set(conf, prev)


@settings(max_examples=10, deadline=None, suppress_health_check=[
    HealthCheck.too_slow, HealthCheck.function_scoped_fixture])
@given(
    chunks=st.lists(CHUNK, min_size=2, max_size=4),
    engine=st.sampled_from([None, "first_row"]),
    int96=st.booleans(),
    with_before=st.booleans(),
)
def test_driver_diff_equals_bucket_diff(spark, tmp_path_factory, chunks, engine,
                                        int96, with_before):
    with _int96(spark, int96):
        t = _create(spark, str(tmp_path_factory.mktemp("prop") / "lake"), engine)
        ids, lsn = [t.current_snapshot_id()], 0
        for events, compact in chunks:
            rows = []
            for k, j, v, n, s, op, d in events:
                rows.append((k, j, v, n, s, lsn, op, d))
                lsn += 1
            _delta(spark, t, rows, lsn - 1)
            if compact:  # base files keep 'D' winners (base_tombstones)
                t.compact()
            ids.append(t.current_snapshot_id())
        if not chunks[-1][1]:  # the last chunk only appended delta layers
            _, jobs = _jobs_started(spark, lambda: t.changes_between(ids[-2], ids[-1]))
            assert jobs == []
        pairs = {(ids[0], ids[-1]), (ids[-2], ids[-1]), (ids[1], ids[-1])}
        for frm, to in sorted(pairs):
            got, want, fast_schema, slow_schema = _both(t, frm, to, with_before)
            assert fast_schema == slow_schema
            assert got.equals(want), (frm, to, got.to_pylist(), want.to_pylist())


def test_stale_event_after_delete_stays_deleted_in_both_paths(spark, tmp_path):
    t = _create(spark, str(tmp_path / "lake"))
    _delta(spark, t, ROWS, 3)
    t.compact()
    s1 = t.current_snapshot_id()
    _delta(spark, t, [("a", 1, None, 1, 9, 10, "D")], 10)
    t.compact()  # the tombstone lands in base
    s2 = t.current_snapshot_id()
    _delta(spark, t, [("a", 1, "late", 1, 2, 11, "U")], 11)  # stale update
    got, want, _, _ = _both(t, s2, None, False)
    assert got.num_rows == 0 and want.num_rows == 0
    got, want, _, _ = _both(t, s1, None, True)
    assert got.equals(want)
    assert [(r["k"], r["op"]) for r in got.to_pylist()] == [("a", "D")]


def test_null_first_merge_key_is_inserted_then_deleted(spark, tmp_path):
    """A key whose FIRST merge key column is NULL changes as I then D on
    both paths: presence comes from the side's row, not from ``keys[0]``
    (which gave U, U — a consumer would upsert NULLs instead of deleting)."""
    t = _create(spark, str(tmp_path / "lake"))
    _delta(spark, t, ROWS, 3)
    s0 = t.current_snapshot_id()
    _delta(spark, t, [(None, 1, "x", 9, 1, 4, "I")], 4)
    s1 = t.current_snapshot_id()
    _delta(spark, t, [(None, 1, None, 9, 2, 5, "D")], 5)
    s2 = t.current_snapshot_id()
    for frm, to, want in ((s0, s1, [(None, 1, "x", "I")]),
                          (s1, s2, [(None, 1, None, "D")])):
        for with_before in (False, True):
            got, slow, fast_schema, slow_schema = _both(t, frm, to, with_before)
            assert got.equals(slow) and fast_schema == slow_schema
            assert [(r["k"], r["j"], r["v"], r["op"]) for r in got.to_pylist()] == want
    # a NULL second key column still diffs as before
    _delta(spark, t, [("a", None, "y", 9, 3, 6, "I")], 6)
    got, slow, _, _ = _both(t, s2, None, False)
    assert got.equals(slow)
    assert [(r["k"], r["j"], r["op"]) for r in got.to_pylist()] == [("a", None, "I")]
