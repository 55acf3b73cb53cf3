"""Property-based check of the core LWW dedup operator.

For ANY multiset of change events — duplicate keys, duplicate timestamps,
redelivered rows — both resolution rules of the one map-side-combined
fold must pick exactly the pandas winner per key under (ts, lsn) ordering,
with lsn as total tiebreak: ``keep='last'`` the argmax (LWW),
``keep='first'`` the argmin (``first_row`` tables).
The reference's dedup rejects tied batches (``bom/wfs.py:103-108``);
the engine must resolve them deterministically instead — this test is the
guarantee.
"""

from __future__ import annotations

import datetime as dt

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from data_services_spark.cdc.dedup import lww_dedup

EPOCH = dt.datetime(2025, 1, 1)

event = st.tuples(
    st.integers(min_value=0, max_value=5),    # conv
    st.integers(min_value=0, max_value=3),    # turn
    st.integers(min_value=0, max_value=9),    # ts offset seconds (ties likely)
    st.integers(min_value=0, max_value=10_000),  # lsn (may duplicate = redelivery)
)


def _pandas_oracle(rows: list[tuple], keep: str) -> set[tuple]:
    df = pd.DataFrame(rows, columns=["conv", "turn", "off", "lsn"])
    df["rank"] = list(zip(df["off"], df["lsn"]))
    by = df.groupby(["conv", "turn"])["rank"]
    idx = by.idxmax() if keep == "last" else by.idxmin()
    win = df.loc[idx]
    return {(r.conv, r.turn, r.off, r.lsn) for r in win.itertuples()}


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(rows=st.lists(event, min_size=1, max_size=60))
def test_all_methods_match_pandas_argmax(spark, rows):
    sdf = spark.createDataFrame(
        [
            (f"c{c}", t, EPOCH + dt.timedelta(seconds=off), lsn, f"p{c}-{t}-{off}-{lsn}")
            for c, t, off, lsn in rows
        ],
        "conv_id string, turn_idx int, ts timestamp, lsn long, text string",
    )
    for keep in ("last", "first"):
        expected = _pandas_oracle(rows, keep)
        got = lww_dedup(
            sdf, keys=["conv_id", "turn_idx"], order=["ts", "lsn"], keep=keep,
        ).collect()
        got_set = {
            (int(r.conv_id[1:]), r.turn_idx,
             int((r.ts - EPOCH).total_seconds()), r.lsn)
            for r in got
        }
        # NB: identical (key, ts, lsn) with different payloads is undefined
        # which copy wins — the generator emits payload deterministic in
        # (c,t,off,lsn), so winners compare exactly.
        assert got_set == expected, (keep, sorted(got_set), sorted(expected))
