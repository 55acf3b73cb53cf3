"""first_row merge ENGINE (merge_engine='first_row', Paimon ``first-row``
parity): each key keeps its FIRST event under (ts, lsn) — min_by
resolution in the read fold, FWW chunk pre-folds, zero-shuffle local
Arrow compaction keeping the first of each key run, deletes rejected
into quarantine (FWW cannot retract an earlier winner). The DuckDB
``expected_first_row_state`` oracle is fully independent (row_number
ASC formulation).

Reference analogue: first-arrival dedup is the reference's NRT-vs-
delayed-mode rule — a file already indexed in NRT is NOT re-processed
when the delayed-mode copy arrives (``ANMN/NRT_to_DM``); first_row is
that rule as a merge engine.
"""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest
from pyspark.sql import functions as F

from data_services_spark.cdc.apply import CdcApplier
from data_services_spark.cdc.dedup import lww_dedup
from data_services_spark.cdc.oracle import expected_first_row_state

EPOCH = dt.datetime(2024, 1, 1)

CHANGE_DDL = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp, lsn long, op string"
)


def _ts(minute: int) -> dt.datetime:
    return EPOCH + dt.timedelta(minutes=minute)


def _stream(spark, rows):
    """rows: (lsn, op, minute, conv_id, turn_idx, text)"""
    data = [
        (cid, ti, "user", text, None, _ts(m), lsn, op)
        for (lsn, op, m, cid, ti, text) in rows
    ]
    return spark.createDataFrame(data, CHANGE_DDL)


def _applier(spark, tmp_path):
    return CdcApplier.bootstrap(
        spark, str(tmp_path / "lake_fr"), bucket_count=4,
        target_props={"merge_engine": "first_row"},
    )


def _state(applier):
    return {
        (r.conv_id, r.turn_idx): (r.text, r.ts, r.lsn)
        for r in applier.target.read().collect()
    }


def test_first_wins_across_chunks_and_out_of_order(spark, tmp_path):
    rows = [
        (1, "I", 10, "a", 0, "first"),
        (2, "U", 20, "a", 0, "later"),       # loses: later ts
        (3, "U", 5, "b", 0, "earliest_b"),   # wins despite higher lsn …
        (4, "I", 7, "b", 0, "late_b"),       # … because ts orders first
        (5, "U", 5, "b", 1, "only_b1"),
    ]
    a = _applier(spark, tmp_path)
    # two chunks: the "later" events land in a separate delta layer
    a.replay(_stream(spark, rows), chunk_size=2)
    got = _state(a)
    assert got[("a", 0)][0] == "first"
    assert got[("b", 0)][0] == "earliest_b"
    assert got[("b", 1)][0] == "only_b1"
    # redelivery of the whole stream is a physical no-op (idempotent FWW)
    before = a.target.current_snapshot_id()
    a.replay(_stream(spark, rows), chunk_size=2)
    assert a.target.current_snapshot_id() == before
    assert _state(a) == got


def test_local_arrow_compaction_keeps_first(spark, tmp_path):
    rows = [(i, "U", 100 - i, "c", i % 3, f"t{i}") for i in range(1, 13)]
    # ts DEcreases with lsn: the FIRST writer by (ts, lsn) is the LAST
    # arrival per key — compaction must keep the min-rank row, not the
    # max-rank one the LWW rewrite keeps
    a = _applier(spark, tmp_path)
    a.replay(_stream(spark, rows), chunk_size=4)  # 3 delta layers
    pre = _state(a)
    snap = a.target.compact()  # first_row compacts via the Arrow rewrite
    assert snap.operation == "compact"
    assert not any(fs for fs in snap.delta_files.values())
    assert _state(a) == pre
    # highest lsn per key won (smallest ts): keys 0,1,2 -> lsn 12,10,11
    assert pre[("c", 0)][2] == 12
    assert pre[("c", 1)][2] == 10
    assert pre[("c", 2)][2] == 11


def test_matches_duckdb_oracle_through_compaction(spark, tmp_path):
    import random

    rng = random.Random(7)
    rows = []
    for lsn in range(1, 301):
        rows.append((
            lsn, rng.choice(["I", "U"]), rng.randrange(0, 50),
            f"c{rng.randrange(8)}", rng.randrange(4), f"v{lsn}",
        ))
    stream = _stream(spark, rows)
    src = str(tmp_path / "changes.parquet")
    stream.write.parquet(src)
    a = _applier(spark, tmp_path)
    a.replay(spark.read.parquet(src), chunk_size=60)
    a.target.compact()
    got = (
        a.target.read().toPandas()
        .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    exp = expected_first_row_state(src)
    assert len(got) == len(exp)
    for c in ["conv_id", "turn_idx", "text", "lsn"]:
        assert got[c].tolist() == exp[c].tolist(), c
    def _naive(s):
        s = pd.to_datetime(s)
        return s.dt.tz_localize(None) if s.dt.tz is not None else s

    assert _naive(got["ts"]).tolist() == _naive(exp["ts"]).tolist()


def test_deletes_quarantined_with_reason(spark, tmp_path):
    rows = [
        (1, "I", 1, "a", 0, "keep"),
        (2, "D", 2, "a", 0, None),
    ]
    a = _applier(spark, tmp_path)
    a.replay(_stream(spark, rows), chunk_size=10)
    assert _state(a)[("a", 0)][0] == "keep"
    q = a.quarantine.read().collect()
    assert len(q) == 1 and q[0].reason == "delete_unsupported_first_row"


def test_guards(spark, tmp_path):
    a = _applier(spark, tmp_path)
    a.replay(_stream(spark, [(1, "I", 1, "a", 0, "x")]), chunk_size=10)
    with pytest.raises(ValueError, match="first_row table"):
        a.target.expire_tombstones()
    from data_services_spark.lake.table import LakeTable
    from pyspark.sql import types as T

    with pytest.raises(ValueError, match="unknown merge_engine"):
        LakeTable.create(
            spark, str(tmp_path / "bad"),
            T.StructType([T.StructField("k", T.StringType(), False)]),
            ["k"], 2, props={"merge_engine": "nope"},
        )


def test_dedup_keep_first_parity(spark):
    rows = [
        (i, "U", (97 * i) % 41, f"c{i % 5}", i % 3, f"t{i}")
        for i in range(1, 120)
    ]
    df = _stream(spark, rows)
    first = {
        (r.conv_id, r.turn_idx): (r.ts, r.lsn)
        for r in lww_dedup(df, keep="first").collect()
    }
    last = {
        (r.conv_id, r.turn_idx): (r.ts, r.lsn)
        for r in lww_dedup(df, keep="last").collect()
    }
    # keep='first' picks each key's pandas argmin over (ts, lsn); lsn is
    # unique per event, so it names the winning row
    pdf = df.toPandas()
    pdf["rank"] = list(zip(pdf["ts"], pdf["lsn"]))
    win = pdf.loc[pdf.groupby(["conv_id", "turn_idx"])["rank"].idxmin()]
    assert {k: v[1] for k, v in first.items()} == {
        (c, t): int(lsn)
        for c, t, lsn in win[["conv_id", "turn_idx", "lsn"]].itertuples(index=False)
    }
    # and it never outranks the keep='last' winner
    assert all(first[k] <= last[k] for k in first)
    assert any(first[k] < last[k] for k in first)
