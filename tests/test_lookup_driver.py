"""Point lookups on the driver: ``LakeTable.lookup`` routes its keys to
buckets with the driver's port of Spark's Murmur3 and folds those
buckets' files in Arrow, with no Spark job. It must equal the Spark plan
(``read(buckets)`` semi-joined with the key set) row for row and by
schema; patch and aggregation tables, and the other gated shapes, take
the Spark plan.
"""

from __future__ import annotations

import collections
import contextlib
import datetime as dt
import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T
from test_changelog_driver import _int96, _jobs_started

from data_services_spark.lake import table as table_mod
from data_services_spark.lake.table import LakeTable

EPOCH = dt.datetime(2025, 1, 1)
SCHEMA = T.StructType([
    T.StructField("k", T.StringType(), True),
    T.StructField("j", T.IntegerType(), True),
    T.StructField("v", T.StringType(), True),
    T.StructField("n", T.IntegerType(), True),
    T.StructField("d", T.DoubleType(), True),
    T.StructField("ts", T.TimestampType(), True),
    T.StructField("lsn", T.LongType(), True),
])
MERGE_KEYS = ["k", "j"]


def _create(spark, path, bucket_keys=("k", "j"), engine=None, buckets=4, **props):
    props = {"merge_keys": MERGE_KEYS, "order_cols": ["ts", "lsn"], **props}
    if engine:
        props["merge_engine"] = engine
    return LakeTable.create(spark, path, SCHEMA, list(bucket_keys),
                            bucket_count=buckets, props=props)


def _ddl(n_type="int", extra=""):
    return (f"k string, j int, v string, n {n_type}, d double, ts timestamp, "
            f"lsn long{extra}")


def _rows(events, with_op=True):
    """events: (k, j, v, n, second, lsn, op, d) -> Spark rows."""
    return [
        (k, j, v, n, d, EPOCH + dt.timedelta(seconds=s), lsn) + ((op,) if with_op else ())
        for k, j, v, n, s, lsn, op, d in events
    ]


@contextlib.contextmanager
def _spark_plan():
    """Force the Spark plan: no file fits a one-byte cap."""
    cap = table_mod._DRIVER_READ_MAX_BYTES
    table_mod._DRIVER_READ_MAX_BYTES = 1
    try:
        yield
    finally:
        table_mod._DRIVER_READ_MAX_BYTES = cap


def _bag(df):
    """The rows as a multiset; NaN as text, so it equals NaN."""
    return collections.Counter(
        tuple("NaN" if isinstance(x, float) and math.isnan(x) else x for x in r)
        for r in df.collect()
    )


def _both(t, keys):
    """(driver rows, Spark-plan rows); the schemas must be equal."""
    fast = t.lookup(keys)
    with _spark_plan():
        slow = t.lookup(keys)
    assert fast.schema == slow.schema
    return _bag(fast), _bag(slow)


def _driver_calls(monkeypatch):
    """The lookups answered on the driver."""
    calls = []
    real = LakeTable._driver_lookup

    def spy(self, *a, **kw):
        out = real(self, *a, **kw)
        if out is not None:
            calls.append(a)
        return out

    monkeypatch.setattr(LakeTable, "_driver_lookup", spy)
    return calls


BASE = [("a", 1, "x", 1, 0, 0, "I", 0.5), ("b", 1, "y", 2, 0, 1, "I", None),
        ("é", 2, None, 3, 0, 2, "I", float("nan")), ("日本", 3, "w", 4, 0, 3, "I", 1.5)]


def test_lookup_list_starts_no_spark_job(spark, tmp_path, monkeypatch):
    calls = _driver_calls(monkeypatch)
    t = _create(spark, str(tmp_path / "lake"))
    t.append(spark.createDataFrame(_rows(BASE, with_op=False), _ddl()))
    t.append_delta(spark.createDataFrame(
        _rows([("a", 1, "x2", 1, 5, 10, "U", 0.5), ("b", 1, None, 2, 5, 11, "D", None)]),
        _ddl(extra=", op string")))
    keys = [{"k": "a", "j": 1}, {"k": "b", "j": 1}, {"k": "日本", "j": 3},
            {"k": "zz", "j": 9}]
    df, jobs = _jobs_started(spark, lambda: t.lookup(keys))
    assert jobs == [] and len(calls) == 1
    assert {(r.k, r.v) for r in df.collect()} == {("a", "x2"), ("日本", "w")}
    # the forced Spark plan's rows come from Spark jobs: the probe sees them
    with _spark_plan():
        _, jobs = _jobs_started(spark, lambda: t.lookup(keys).collect())
    assert jobs


def test_dataframe_key_set_is_collected_once(spark, tmp_path, monkeypatch):
    calls = _driver_calls(monkeypatch)
    t = _create(spark, str(tmp_path / "lake"))
    t.append(spark.createDataFrame(_rows(BASE, with_op=False), _ddl()))
    # a long key column is cast to the table's int, an extra column drops,
    # and a NULL key matches nothing
    kdf = spark.createDataFrame([("a", 1, "junk"), ("é", None, "junk")],
                                "k string, j long, extra string")
    _, jobs = _jobs_started(spark, lambda: t.lookup(kdf))
    assert len(jobs) == 1 and len(calls) == 1
    got, want = _both(t, kdf)
    assert got == want and [r[0] for r in got] == ["a"]
    with pytest.raises(ValueError, match="every bucket key"):
        t.lookup(kdf.select("j"))


def test_null_and_duplicate_keys_and_duplicate_rows(spark, tmp_path):
    """A NULL key column matches nothing on either side (the semi-join is
    not null-safe), a duplicate lookup key returns its rows once, and a
    bucket without delta layers keeps duplicate rows."""
    t = _create(spark, str(tmp_path / "lake"))
    rows = BASE + [(None, 1, "n1", 5, 0, 4, "I", None), ("a", None, "n2", 6, 0, 5, "I", None)]
    df = spark.createDataFrame(_rows(rows, with_op=False), _ddl())
    t.append(df.unionAll(df))
    keys = [{"k": None, "j": 1}, {"k": "a", "j": None}, {"k": "a", "j": 1},
            {"k": "a", "j": 1}, {"k": None, "j": None}]
    got, want = _both(t, keys)
    assert got == want and [(r[0], r[1], n) for r, n in got.items()] == [("a", 1, 2)]
    # and through the fold of a delta-bearing bucket: one winner
    t.append_delta(spark.createDataFrame(
        _rows([("a", 1, "x2", 1, 5, 10, "U", 0.5), (None, 1, "n3", 5, 5, 11, "U", None)]),
        _ddl(extra=", op string")))
    got, want = _both(t, keys)
    assert got == want and [(r[2], n) for r, n in got.items()] == [("x2", 1)]


def test_stale_event_after_compaction_stays_deleted(spark, tmp_path):
    t = _create(spark, str(tmp_path / "lake"))
    t.append(spark.createDataFrame(_rows(BASE, with_op=False), _ddl()))
    t.append_delta(spark.createDataFrame(
        _rows([("a", 1, None, 1, 9, 10, "D", None)]), _ddl(extra=", op string")))
    t.compact()  # the tombstone lands in base: base_tombstones
    keys = [{"k": "a", "j": 1}, {"k": "b", "j": 1}]
    got, want = _both(t, keys)
    assert got == want and [r[0] for r in got] == ["b"]
    t.append_delta(spark.createDataFrame(  # a stale update loses to the delete
        _rows([("a", 1, "late", 1, 2, 11, "U", None)]), _ddl(extra=", op string")))
    got, want = _both(t, keys)
    assert got == want and [r[0] for r in got] == ["b"]


@pytest.mark.parametrize("engine", ["partial_update", "aggregation"])
def test_patch_and_aggregation_tables_take_the_spark_plan(
        spark, tmp_path, monkeypatch, engine):
    calls = _driver_calls(monkeypatch)
    schema = T.StructType([
        T.StructField("k", T.StringType(), False),
        T.StructField("n", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("lsn", T.LongType(), True),
    ])
    props = {"merge_keys": ["k"], "order_cols": ["ts", "lsn"], "merge_engine": engine}
    if engine == "aggregation":
        props["agg_functions"] = {"n": "sum"}
    t = LakeTable.create(spark, str(tmp_path / "lake"), schema, ["k"],
                         bucket_count=4, props=props)
    t.append_delta(spark.createDataFrame(
        [("a", 1, EPOCH, 0, "U"), ("a", 2, EPOCH + dt.timedelta(seconds=1), 1, "U"),
         ("b", 5, EPOCH, 2, "U")],
        "k string, n long, ts timestamp, lsn long, op string"))
    got = {r.k: r.n for r in t.lookup([{"k": "a"}, {"k": "zz"}]).collect()}
    assert got == {"a": 3 if engine == "aggregation" else 2}
    assert calls == []


def test_other_gated_tables_take_the_spark_plan(spark, tmp_path, monkeypatch):
    calls = _driver_calls(monkeypatch)
    rows = spark.createDataFrame(_rows(BASE, with_op=False), _ddl())
    xx = _create(spark, str(tmp_path / "xx"), bucket_fn="xxhash64")
    xx.append(rows)
    assert [r.k for r in xx.lookup([{"k": "a", "j": 1}]).collect()] == ["a"]
    ts_key = _create(spark, str(tmp_path / "ts"), bucket_keys=["ts"])
    ts_key.append(rows)
    assert ts_key.lookup([{"ts": EPOCH}]).count() == len(BASE)
    assert calls == []
    plain = _create(spark, str(tmp_path / "plain"))
    plain.append(rows)
    with _spark_plan():  # over the byte cap
        assert plain.lookup([{"k": "a", "j": 1}]).count() == 1
    assert calls == []
    assert plain.lookup([{"k": "a", "j": 1}]).count() == 1 and len(calls) == 1


# ------------------------------------------------------------ equality
KEY_K = st.sampled_from(["a", "Z", "é", "ß", "日本", "", "\U0001F600"])
KEY_J = st.sampled_from([0, 1, None])
EVENT = st.tuples(
    st.one_of(KEY_K, st.just(None)), KEY_J,
    st.sampled_from(["x", "ÿ", None]),                # v (NULL payloads)
    st.sampled_from([0, 7, None]),                    # n
    st.integers(min_value=0, max_value=6),            # ts second (stale likely)
    st.sampled_from(["I", "U", "D", "D"]),            # deletes often
    st.sampled_from([0.5, float("nan"), None]),       # d: NaN doubles
)
CHUNK = st.tuples(st.lists(EVENT, min_size=1, max_size=8),
                  st.sampled_from([False, False, True]))  # compact after it
LOOKUP = st.lists(
    st.fixed_dictionaries({"k": st.one_of(KEY_K, st.just(None), st.just("absent")),
                           "j": st.one_of(KEY_J, st.just(7))}),
    min_size=1, max_size=8,
)


@settings(max_examples=12, deadline=None, suppress_health_check=[
    HealthCheck.too_slow, HealthCheck.function_scoped_fixture])
@given(
    base=st.lists(EVENT, max_size=6),
    chunks=st.lists(CHUNK, max_size=3),
    bucket_keys=st.sampled_from([("k", "j"), ("k",)]),  # merge keys (k, j)
    engine=st.sampled_from([None, "first_row"]),
    int96=st.booleans(),
    evolve=st.sampled_from([None, "widen", "add"]),
    lookups=st.lists(LOOKUP, min_size=1, max_size=3),
)
def test_driver_lookup_equals_spark_plan(spark, tmp_path_factory, monkeypatch, base,
                                         chunks, bucket_keys, engine, int96, evolve,
                                         lookups):
    calls = _driver_calls(monkeypatch)
    with _int96(spark, int96):
        t = _create(spark, str(tmp_path_factory.mktemp("prop") / "lake"),
                    bucket_keys, engine)
        lsn = 0
        if base:  # twice: clean buckets keep duplicate rows
            rows = [e[:5] + (i, None, e[6]) for i, e in enumerate(base)]
            df = spark.createDataFrame(_rows(rows, with_op=False), _ddl())
            t.append(df.unionAll(df))
            lsn = len(base)
        for c, (events, compact) in enumerate(chunks):
            rows = []
            for k, j, v, n, s, op, d in events:
                rows.append((k, j, v, n, s, lsn, op, d))
                lsn += 1
            n_type, extra = "int", ", op string"
            if evolve and c == len(chunks) - 1:
                n_type = "long" if evolve == "widen" else "int"
                extra = ", op string, score double" if evolve == "add" else extra
                rows = [r + ((2.5,) if evolve == "add" else ()) for r in rows]
            data = [
                (k, j, v, n, d, EPOCH + dt.timedelta(seconds=s), lsn_, op, *rest)
                for k, j, v, n, s, lsn_, op, d, *rest in rows
            ]
            t.append_delta(spark.createDataFrame(data, _ddl(n_type, extra)))
            if compact:  # base files keep 'D' winners (base_tombstones)
                t.compact()
        for keys in lookups:
            n = len(calls)
            _, jobs = _jobs_started(spark, lambda: t.lookup(keys))
            assert jobs == [] and len(calls) == n + 1
            got, want = _both(t, keys)
            assert got == want, (keys, got, want)
