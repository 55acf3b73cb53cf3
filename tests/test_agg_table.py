"""Aggregation merge ENGINE path (merge_engine='aggregation', Paimon
``aggregation`` parity): per-column merge functions folded by the read
path, chunk pre-folds as re-mergeable partials, compaction through the
same algebra, deletes rejected into quarantine. The standalone
``aggregation_merge`` operator is the semantic oracle."""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_services_spark.cdc.apply import CdcApplier
from data_services_spark.cdc.dedup import aggregation_merge
from data_services_spark.lake.table import LakeTable

EPOCH = dt.datetime(2024, 1, 1)

STATS_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("n_tokens", T.LongType(), True),
    T.StructField("n_msgs", T.LongType(), True),
    T.StructField("max_turn", T.IntegerType(), True),
    T.StructField("had_error", T.BooleanType(), True),
    T.StructField("model", T.StringType(), True),
    T.StructField("ts", T.TimestampType(), True),
    T.StructField("lsn", T.LongType(), True),
])

AGG_FNS = {
    "n_tokens": "sum",
    "n_msgs": "sum",
    "max_turn": "max",
    "had_error": "bool_or",
    "model": "last_non_null",
}

CHANGE_SCHEMA = T.StructType(
    [T.StructField("op", T.StringType(), False)] + STATS_SCHEMA.fields
)


def _ts(minute: int) -> dt.datetime:
    return EPOCH + dt.timedelta(minutes=minute)


def _stream(spark, rows):
    """rows: (lsn, op, minute, conv_id, n_tokens, n_msgs, max_turn,
    had_error, model)"""
    data = [
        (op, cid, tok, msg, turn, err, model, _ts(m), lsn)
        for (lsn, op, m, cid, tok, msg, turn, err, model) in rows
    ]
    return spark.createDataFrame(data, CHANGE_SCHEMA)


def _agg_applier(spark, tmp_path, bucket_count=4, **kwargs):
    return CdcApplier.bootstrap_custom(
        spark, str(tmp_path / "lake"), STATS_SCHEMA,
        merge_keys=["conv_id"], bucket_count=bucket_count,
        target_props={"merge_engine": "aggregation",
                      "agg_functions": AGG_FNS},
        **kwargs,
    )


ROWS = [
    # conv a: three contributions, model written twice (late one wins),
    # one NULL model (must not clobber), bool_or flips once
    (0, "I", 0, "a", 10, 1, 0, False, "m1"),
    (1, "U", 5, "a", 7, 1, 1, True, None),
    (2, "U", 3, "a", 4, 2, 2, False, "m2"),   # older ts, earlier rank
    # conv b: single row, all nulls except tokens
    (3, "I", 1, "b", 99, None, None, None, None),
    # conv c: out-of-order arrival (later lsn carries older ts)
    (4, "U", 9, "c", 1, 1, 5, False, "mx"),
    (5, "U", 2, "c", 2, 1, 3, False, "my"),
]


def _expected(stream):
    return {
        r["conv_id"]: (
            r["n_tokens"], r["n_msgs"], r["max_turn"], r["had_error"],
            r["model"], r["ts"], r["lsn"],
        )
        for r in aggregation_merge(
            stream.drop("op"), keys=["conv_id"], order=["ts", "lsn"],
            functions=AGG_FNS,
        ).collect()
    }


def _rows(df):
    return {
        r["conv_id"]: (
            r["n_tokens"], r["n_msgs"], r["max_turn"], r["had_error"],
            r["model"], r["ts"], r["lsn"],
        )
        for r in df.collect()
    }


def test_standalone_operator_semantics(spark):
    got = _expected(_stream(spark, ROWS))
    # last_non_null: m2 (ts=3) beats m1 (ts=0); the NULL at ts=5 never
    # clobbers; the order stamp is the latest contribution (ts=5, lsn=1)
    assert got["a"] == (21, 4, 2, True, "m2", _ts(5), 1)
    assert got["b"] == (99, None, None, None, None, _ts(1), 3)
    # event-time order, not arrival order: mx (ts=9) is the last writer
    assert got["c"] == (3, 2, 5, False, "mx", _ts(9), 4)


def test_engine_apply_matches_operator_across_chunks(spark, tmp_path):
    stream = _stream(spark, ROWS)
    applier = _agg_applier(spark, tmp_path)
    applier.replay(stream, chunk_size=2)  # three chunks, cross-chunk folds
    got = _rows(applier.target.read())
    assert got == _expected(stream)
    assert "_wr" not in applier.target.read().columns


def test_compaction_preserves_fold_exactness(spark, tmp_path):
    applier = _agg_applier(spark, tmp_path)
    first = _stream(spark, ROWS[:3])
    applier.replay(first, chunk_size=2)
    applier.target.compact()
    assert not any(applier.target.snapshot().delta_files.values())
    # post-compaction contributions must merge with the folded partials
    rest = _stream(spark, ROWS[3:])
    applier.replay(rest, chunk_size=2)
    assert _rows(applier.target.read()) == _expected(_stream(spark, ROWS))
    applier.target.compact()
    assert _rows(applier.target.read()) == _expected(_stream(spark, ROWS))


def test_compacted_table_exports_to_delta(spark, tmp_path):
    """An aggregation table cannot hold a 'D' row: compaction leaves the
    base_tombstones flag off, so the compacted table exports, and the
    Delta schema holds read()'s columns (not the hidden writer-rank
    column) plus the bucket partition column."""
    from data_services_spark.lake.export import export_delta_log

    applier = _agg_applier(spark, tmp_path)
    applier.replay(_stream(spark, ROWS), chunk_size=2)
    applier.target.compact()
    assert applier.target.describe()["base_tombstones"] is False
    out = export_delta_log(applier.target)
    with open(os.path.join(out["log_dir"], f"{out['version']:020d}.json")) as f:
        acts = [json.loads(line) for line in f if line.strip()]
    (meta,) = [a["metaData"] for a in acts if "metaData" in a]
    names = [fld["name"] for fld in json.loads(meta["schemaString"])["fields"]]
    assert names == applier.target.read().columns + ["bucket"]


def test_duplicate_redelivery_is_not_double_counted(spark, tmp_path):
    """Replaying the SAME chunk twice must not double totals: the offset
    checkpoint (not the fold) is what makes sums idempotent."""
    stream = _stream(spark, ROWS)
    applier = _agg_applier(spark, tmp_path)
    applier.replay(stream, chunk_size=3)
    before = _rows(applier.target.read())
    applier.replay(stream, chunk_size=3)  # committed_lsn skips everything
    assert _rows(applier.target.read()) == before


def test_deletes_quarantined_not_applied(spark, tmp_path):
    rows = ROWS + [(6, "D", 11, "a", None, None, None, None, None)]
    applier = _agg_applier(spark, tmp_path)
    stats = applier.replay(_stream(spark, rows), chunk_size=10)
    assert sum(s.n_quarantined for s in stats) == 1
    q = applier.quarantine.read()
    reasons = [r["reason"] for r in q.collect()]
    assert reasons == ["delete_unsupported_aggregation"]
    # totals untouched by the delete
    got = _rows(applier.target.read())
    assert got == _expected(_stream(spark, ROWS))


def test_create_validates_function_spec(spark, tmp_path):
    with pytest.raises(ValueError, match="unknown aggregation functions"):
        LakeTable.create(
            spark, str(tmp_path / "t1"), STATS_SCHEMA, ["conv_id"], 2,
            props={"merge_engine": "aggregation", "merge_keys": ["conv_id"],
                   "order_cols": ["ts", "lsn"],
                   "agg_functions": {"n_tokens": "avg"}},
        )
    with pytest.raises(ValueError, match="non-payload columns"):
        LakeTable.create(
            spark, str(tmp_path / "t2"), STATS_SCHEMA, ["conv_id"], 2,
            props={"merge_engine": "aggregation", "merge_keys": ["conv_id"],
                   "order_cols": ["ts", "lsn"],
                   "agg_functions": {"nope": "sum"}},
        )
    with pytest.raises(ValueError, match="requires order_cols"):
        LakeTable.create(
            spark, str(tmp_path / "t3"), STATS_SCHEMA, ["conv_id"], 2,
            props={"merge_engine": "aggregation", "merge_keys": ["conv_id"]},
        )


def test_expire_tombstones_refuses_aggregation_tables(spark, tmp_path):
    applier = _agg_applier(spark, tmp_path)
    applier.replay(_stream(spark, ROWS[:2]), chunk_size=10)
    with pytest.raises(ValueError, match="never holds tombstones"):
        applier.target.expire_tombstones()


def test_rebucket_preserves_aggregation_state(spark, tmp_path):
    stream = _stream(spark, ROWS)
    applier = _agg_applier(spark, tmp_path)
    applier.replay(stream, chunk_size=2)
    applier.target.rebucket(8)
    assert _rows(applier.target.read()) == _expected(stream)
    # and the resized table keeps folding new contributions exactly
    more = _stream(spark, [(6, "U", 12, "a", 5, 1, 7, False, "m3")])
    applier.replay(more, chunk_size=10)
    got = _rows(applier.target.read())
    assert got["a"] == (26, 5, 7, True, "m3", _ts(12), 6)


def test_no_positional_functions_no_wr_column(spark, tmp_path):
    """A table whose functions are all plain aggregates needs no hidden
    rank struct at all."""
    schema = T.StructType([
        T.StructField("k", T.StringType(), False),
        T.StructField("total", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("lsn", T.LongType(), True),
    ])
    t = LakeTable.create(
        spark, str(tmp_path / "plain"), schema, ["k"], 2,
        props={"merge_engine": "aggregation", "merge_keys": ["k"],
               "order_cols": ["ts", "lsn"],
               "agg_functions": {"total": "sum"}},
    )
    assert "_wr" not in [f.name for f in t.snapshot().schema.fields]
    rows = spark.createDataFrame(
        [("a", 1, _ts(0), 0), ("a", 2, _ts(1), 1), ("b", 5, _ts(2), 2)], schema
    ).withColumn("op", F.lit("U"))
    t.append_delta(rows)
    got = {r["k"]: (r["total"], r["lsn"]) for r in t.read().collect()}
    assert got == {"a": (3, 1), "b": (5, 2)}
    t.compact()
    got = {r["k"]: (r["total"], r["lsn"]) for r in t.read().collect()}
    assert got == {"a": (3, 1), "b": (5, 2)}
