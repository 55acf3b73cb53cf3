"""Untimed correctness gate, run after the timed window.

* final state: each lake the window wrote is compared with the DuckDB
  oracle (``cdc.oracle.expected_final_state``) at its committed LSN; the
  bulk workload's repeated replays are each compared with the first by a
  whole-table fingerprint. A mismatch fails the run.
* lookups: a sample of the timed lookup batches is compared with the
  oracle's rows for the same keys at the LSN committed when the lookup ran.
* changelogs: a sample of the timed changelog reads is compared, by row
  count, with an independent diff of the two snapshots' full reads.

A lookup or changelog mismatch counts as a failed operation.
"""

from __future__ import annotations

import os
import sys
from typing import Any

SAMPLED_LOOKUPS = 3
SAMPLED_CHANGELOGS = 2


def verify(b: Any) -> None:
    from data_services_spark.cdc.oracle import expected_final_state, table_state_matches

    stream = os.path.join(b.inputs, "part=*", "*.parquet")
    expected_at: dict[int, Any] = {}

    def expected(hi: int) -> Any:
        if hi not in expected_at:
            expected_at[hi] = expected_final_state(stream, hi_lsn=hi)
        return expected_at[hi]

    rows_at: dict[tuple[str, int], Any] = {}

    def rows(table: Any, snapshot_id: int) -> Any:
        key = (table.path, snapshot_id)
        if key not in rows_at:
            rows_at[key] = table.read(snapshot_id).toPandas()
        return rows_at[key]

    if not b.lakes:
        b.correct = False
        print("[cdcbench] no lake completed its operations", file=sys.stderr)
    first_fp = None
    for i, applier in enumerate(b.lakes):
        if i == 0:
            t = applier.target
            ok, msg = table_state_matches(
                rows(t, t.current_snapshot_id()), expected(applier.committed_lsn()))
            first_fp = _fingerprint(applier.target)
        else:
            fp = _fingerprint(applier.target)
            ok, msg = fp == first_fp, f"fingerprint {fp} != first replay's {first_fp}"
        if not ok:
            b.correct = False
            print(f"[cdcbench] final state of lake {i} is wrong: {msg}", file=sys.stderr)

    for applier, keys, got, hi in _sample(b, b.lookup_checks, SAMPLED_LOOKUPS):
        want = expected(hi).merge(
            _key_frame(keys), on=["conv_id", "turn_idx"], how="inner")
        ok, msg = table_state_matches(got.to_pandas(), want)
        if not ok:
            b.failed += 1
            print(f"[cdcbench] lookup at lsn {hi} is wrong: {msg}", file=sys.stderr)

    for applier, from_id, to_id, n_rows in _sample(b, b.changelog_checks, SAMPLED_CHANGELOGS):
        want = _changed_keys(rows(applier.target, from_id), rows(applier.target, to_id))
        if n_rows != want:
            b.failed += 1
            print(f"[cdcbench] changelog {from_id}->{to_id} has {n_rows} rows, "
                  f"the snapshots differ in {want} keys", file=sys.stderr)


def _sample(b: Any, items: list, k: int) -> list:
    return items if len(items) <= k else b.rng.sample(items, k)


def _key_frame(keys: list[dict]) -> Any:
    import pandas as pd

    return pd.DataFrame(keys).astype({"turn_idx": "int32"})


def _fingerprint(table: Any) -> tuple[int, int]:
    from pyspark.sql import functions as F

    df = table.read()
    row = df.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


def _changed_keys(before: Any, after: Any) -> int:
    """Keys whose live row differs (ts aside, as the changelog compares)
    between two snapshots' full reads, counted with anti-joins in pandas
    rather than the changelog's bucket-pruned outer join."""
    keys = ["conv_id", "turn_idx"]
    cols = keys + [c for c in after.columns if c not in keys and c != "ts"]
    return _anti(after[cols], before[cols]) + _anti(before[keys], after[keys])


def _anti(left: Any, right: Any) -> int:
    """Rows of ``left`` with no equal row in ``right``."""
    m = left.merge(right.drop_duplicates(), on=list(left.columns), how="left",
                   indicator=True)
    return int((m["_merge"] == "left_only").sum())
