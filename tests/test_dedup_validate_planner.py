"""Unit tests: LWW dedup (matches a pandas oracle),
validation gates, replay planner truth table."""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest

from data_services_spark.cdc.dedup import lww_dedup
from data_services_spark.cdc.generator import generate_changes
from data_services_spark.cdc.planner import (
    CheckpointAheadOfSource,
    plan_replay,
)
from data_services_spark.cdc.validate import (
    monotonicity_violations,
    split_valid,
)


@pytest.fixture(scope="module")
def changes(spark):
    return generate_changes(
        spark, 2000, n_convs=30, max_turns=10, invalid_one_in=0, seed=7
    ).cache()


def _pandas_lww(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values(["ts", "lsn"])
    # keep='last' preserves whole rows (groupby().last() would mix columns
    # by taking last non-null per column)
    return pdf.drop_duplicates(subset=["conv_id", "turn_idx"], keep="last")


def test_dedup_matches_pandas_oracle(spark, changes):
    got = (
        lww_dedup(changes)
        .orderBy("conv_id", "turn_idx")
        .toPandas()
        .reset_index(drop=True)
    )
    exp = (
        _pandas_lww(changes.toPandas())
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)[got.columns]
    )
    pd.testing.assert_frame_equal(got, exp)


def test_dedup_one_row_per_key(spark, changes):
    out = lww_dedup(changes)
    assert out.groupBy("conv_id", "turn_idx").count().where("count > 1").count() == 0


def test_validation_gates(spark):
    import datetime as dt

    rows = [
        # lsn, op, ts, conv_id, turn_idx, role, text, tool
        (1, "I", dt.datetime(2025, 1, 1), "c1", 0, "user", "ok", None),
        (2, "X", dt.datetime(2025, 1, 1), "c1", 1, "user", "bad op", None),
        (3, "I", dt.datetime(2025, 1, 1), None, 0, "user", "null conv", None),
        (4, "I", dt.datetime(2025, 1, 1), "c1", -5, "user", "neg turn", None),
        (5, "I", dt.datetime(2025, 1, 1), "c1", 2, "robot", "bad role", None),
        (6, "D", dt.datetime(2025, 1, 1), "c1", 3, None, None, None),  # delete: ok
        (7, "I", None, "c1", 4, "user", "null ts", None),
        (8, "I", dt.datetime(2025, 1, 1), "c1", 5, "user", "x" * 40000, None),
    ]
    df = spark.createDataFrame(
        rows, "lsn long, op string, ts timestamp, conv_id string, turn_idx int, role string, text string, tool string"
    )
    valid, quar = split_valid(df)
    assert sorted(r["lsn"] for r in valid.collect()) == [1, 6]
    reasons = {r["lsn"]: r["reason"] for r in quar.collect()}
    assert reasons == {
        2: "bad_op",
        3: "null_conv_id",
        4: "negative_turn_idx",
        5: "bad_role",
        7: "null_ts",
        8: "oversize_text",
    }


def test_monotonicity_check(spark):
    import datetime as dt

    rows = [
        ("c1", 0, dt.datetime(2025, 1, 1, 0, 0)),
        ("c1", 1, dt.datetime(2025, 1, 1, 0, 5)),
        ("c1", 2, dt.datetime(2025, 1, 1, 0, 3)),  # violation
        ("c2", 0, dt.datetime(2025, 1, 1)),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, ts timestamp")
    v = monotonicity_violations(df).collect()
    assert len(v) == 1 and v[0]["conv_id"] == "c1" and v[0]["turn_idx"] == 2


# ---- planner truth table (mirrors test_lib_common_processing.py:19-57) ----

def test_plan_new_data():
    p = plan_replay(source_hi_lsn=100, committed_lsn=40, chunk_size=25)
    assert p.decision == "new_data"
    assert p.ranges == [(40, 65), (65, 90), (90, 100)]


def test_plan_bootstrap():
    p = plan_replay(source_hi_lsn=10, committed_lsn=None, chunk_size=100)
    assert p.decision == "bootstrap"
    assert p.ranges == [(-1, 10)]


def test_plan_up_to_date():
    p = plan_replay(source_hi_lsn=10, committed_lsn=10, chunk_size=5)
    assert p.decision == "up_to_date" and p.ranges == []


def test_plan_impossible():
    with pytest.raises(CheckpointAheadOfSource):
        plan_replay(source_hi_lsn=10, committed_lsn=20, chunk_size=5)
    with pytest.raises(CheckpointAheadOfSource):
        plan_replay(source_hi_lsn=None, committed_lsn=20, chunk_size=5)


def test_plan_empty_source_never_processed():
    p = plan_replay(source_hi_lsn=None, committed_lsn=None, chunk_size=5)
    assert p.decision == "up_to_date" and p.ranges == []


def test_plan_sparse_lsn_space_guard():
    """Mongo-shaped LSNs (t*2^32+i) with a small fixed width must refuse
    loudly instead of materializing billions of empty ranges."""
    from data_services_spark.cdc.planner import SparseLsnSpace

    with pytest.raises(SparseLsnSpace, match="chunk_rows"):
        plan_replay(
            source_hi_lsn=400 * (1 << 32), committed_lsn=None, chunk_size=2
        )


def test_plan_bounds_quantile_edges():
    from data_services_spark.cdc.planner import plan_replay_bounds

    # dedupes, drops out-of-range edges, always tops out at source_hi
    p = plan_replay_bounds([50, 50, 5, 120, 90], committed_lsn=10,
                           source_hi_lsn=100)
    assert p.decision == "new_data"
    assert p.ranges == [(10, 50), (50, 90), (90, 100)]
    # bootstrap + empty bounds = single full range
    p = plan_replay_bounds([], committed_lsn=None, source_hi_lsn=7)
    assert p.decision == "bootstrap" and p.ranges == [(-1, 7)]
    # up-to-date and impossible verdicts match plan_replay
    assert plan_replay_bounds([], 9, 9).decision == "up_to_date"
    with pytest.raises(CheckpointAheadOfSource):
        plan_replay_bounds([], 20, 10)


def test_replay_chunk_rows_sparse_lsns(spark, tmp_path):
    """chunk_rows replay over a sparse (Mongo-shaped) LSN space: multiple
    mass-balanced chunks, exactly-once final state equal to the dense
    replay of the same events."""
    from data_services_spark.cdc.apply import CdcApplier

    rows = []
    for i in range(40):
        # sparse: consecutive events 2^32 apart, hot key c0
        rows.append((f"c{i % 4}", i // 4, "user", f"t{i}",
                     None, dt.datetime(2025, 1, 1, 0, i),
                     (100 + i) * (1 << 32), "U" if i % 5 else "I"))
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp, lsn long, op string",
    )
    a = CdcApplier.bootstrap(spark, str(tmp_path / "lake_q"), bucket_count=4)
    stats = a.replay(df, chunk_rows=10)
    assert len(stats) == 4  # 40 events / 10-row chunks
    assert a.committed_lsn() == 139 * (1 << 32)
    b = CdcApplier.bootstrap(spark, str(tmp_path / "lake_d"), bucket_count=4)
    b.replay(df, chunk_size=(1 << 32) * 40)
    got = {tuple(r) for r in a.target.read().collect()}
    want = {tuple(r) for r in b.target.read().collect()}
    assert got == want and len(got) == 40
    # resume: re-invoking with the same stream is a pure no-op
    stats2 = a.replay(df, chunk_rows=10)
    assert stats2 == []
