"""Property-based check of write-audit-publish semantics.

For ANY multiset of change events split into arbitrary segments, with each
segment ingested through a random path — direct delta commit, stage→publish,
or stage→abandon — and publishes landing in ANY order (fast-forward and
cherry-pick interleavings alike), the final table state must equal the
pandas LWW oracle over exactly the NON-abandoned events: published batches
are indistinguishable from direct commits, abandoned batches never existed,
and no interleaving can lose, duplicate, or resurrect a row. Delete
tombstones ride along so abandon/publish is exercised on 'D' winners too.
"""

from __future__ import annotations

import datetime as dt

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from data_services_spark.cdc.dedup import lww_dedup
from data_services_spark.lake.table import LakeTable

EPOCH = dt.datetime(2025, 1, 1)

SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("lsn", T.LongType()),
    T.StructField("text", T.StringType()),
])

event = st.tuples(
    st.integers(min_value=0, max_value=4),       # conv
    st.integers(min_value=0, max_value=3),       # turn
    st.integers(min_value=0, max_value=9),       # ts offset (ties likely)
    st.integers(min_value=0, max_value=10_000),  # lsn (dup = redelivery)
)

ACTIONS = ("direct", "publish", "abandon")


def _oracle(rows: list[tuple], kept: list[bool], n_seg: int) -> set[tuple]:
    """Pandas argmax per key over non-abandoned segments; 'D' winners drop."""
    seg_of = [i * n_seg // len(rows) for i in range(len(rows))]
    live = [r for r, s in zip(rows, seg_of) if kept[s]]
    if not live:
        return set()
    df = pd.DataFrame(live, columns=["conv", "turn", "off", "lsn"])
    df["rank"] = list(zip(df["off"], df["lsn"]))
    idx = df.groupby(["conv", "turn"])["rank"].idxmax()
    win = df.loc[idx]
    return {
        (f"c{r.conv}", r.turn, r.off, r.lsn)
        for r in win.itertuples()
        if r.off % 7 != 0  # op='D' convention below
    }


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(rows=st.lists(event, min_size=3, max_size=40), data=st.data())
def test_wap_interleavings_match_oracle(spark, tmp_path_factory, rows, data):
    n_seg = data.draw(st.integers(min_value=1, max_value=3), label="segments")
    actions = [
        data.draw(st.sampled_from(ACTIONS), label=f"action_{i}")
        for i in range(n_seg)
    ]
    root = str(tmp_path_factory.mktemp("wap_prop") / "t")
    t = LakeTable.create(
        spark, root, SCHEMA, ["conv_id", "turn_idx"], bucket_count=4,
        props={"merge_keys": ["conv_id", "turn_idx"], "order_cols": ["ts", "lsn"]},
    )

    def seg_df(i: int):
        seg = [r for j, r in enumerate(rows) if j * n_seg // len(rows) == i]
        if not seg:
            return None
        sdf = spark.createDataFrame(
            [
                (f"c{c}", tr, EPOCH + dt.timedelta(seconds=off), lsn,
                 f"p{c}-{tr}-{off}-{lsn}", "D" if off % 7 == 0 else "U")
                for c, tr, off, lsn in seg
            ],
            "conv_id string, turn_idx int, ts timestamp, lsn long, "
            "text string, op string",
        )
        # WAP overlays presume per-batch winners (the append_delta shape);
        # LWW is associative, so segment argmax then read-time argmax is
        # the global argmax
        return lww_dedup(
            sdf, keys=["conv_id", "turn_idx"], order=["ts", "lsn"],
        )

    staged: list[str] = []
    kept = [True] * n_seg
    for i, act in enumerate(actions):
        df = seg_df(i)
        if df is None:
            continue
        if act == "direct":
            t.append_delta(df)
        else:
            t.stage_delta(df, f"seg-{i}")
            if act == "publish":
                staged.append(f"seg-{i}")
            else:
                kept[i] = False
                t.abandon_staged(f"seg-{i}")
    for wap_id in data.draw(st.permutations(staged), label="publish_order"):
        t.publish_staged(wap_id)

    got = {
        (r["conv_id"], r["turn_idx"],
         int((r["ts"] - EPOCH).total_seconds()), r["lsn"])
        for r in (x.asDict() for x in t.read().collect())
    }
    assert got == _oracle(rows, kept, n_seg)
    assert t.list_staged() == []
