"""Interop exports: the Delta transaction log a standard reader would
replay, and the plain-parquet snapshot export.

No Delta reader ships in this container, so the test acts as one: it
reconstructs table state from ``_delta_log`` exactly as the public Delta
protocol specifies (replay versions in order; add puts, remove deletes;
data = union of live files with hive partition values injected) and
checks the result equals the engine's own resolved read."""

from __future__ import annotations

import json
import os

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from data_services_spark.cdc.apply import CdcApplier
from data_services_spark.cdc.generator import generate_changes
from data_services_spark.cdc.oracle import expected_final_state, table_state_matches
from data_services_spark.lake.export import (
    export_delta_log,
    export_snapshot_parquet,
)


@pytest.fixture(scope="module")
def lake(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("exp") / "lake"
    chg = str(tmp_path_factory.mktemp("exp_chg") / "changes.parquet")
    generate_changes(
        spark, 4000, n_convs=120, max_turns=12, invalid_one_in=0, seed=77
    ).write.parquet(chg)
    applier = CdcApplier.bootstrap(spark, str(root), bucket_count=4)
    applier.replay(spark.read.parquet(chg), chunk_size=1500)
    return applier, chg


def _delta_reader_state(table_path: str) -> pd.DataFrame:
    """A minimal independent Delta reader: protocol state reconstruction
    + parquet scan with partition-value injection, via DuckDB."""
    log_dir = os.path.join(table_path, "_delta_log")
    versions = sorted(
        int(n[:-5]) for n in os.listdir(log_dir)
        if n.endswith(".json") and n[:-5].isdigit()
    )
    live: dict[str, dict] = {}
    meta = None
    for v in versions:
        with open(os.path.join(log_dir, f"{v:020d}.json")) as f:
            for line in f:
                if not line.strip():
                    continue
                act = json.loads(line)
                if "add" in act:
                    live[act["add"]["path"]] = act["add"]
                elif "remove" in act:
                    live.pop(act["remove"]["path"], None)
                elif "metaData" in act:
                    meta = act["metaData"]
    assert meta is not None and meta["partitionColumns"] == ["bucket"]
    con = duckdb.connect()
    frames = []
    for path, add in live.items():
        df = con.sql(
            f"SELECT * FROM read_parquet('{os.path.join(table_path, path)}')"
        ).df()
        df["bucket"] = int(add["partitionValues"]["bucket"])
        frames.append(df)
    return pd.concat(frames, ignore_index=True)


def test_delta_log_gates_on_mor_and_tombstones(lake):
    applier, _ = lake
    with pytest.raises(ValueError, match="delta layers"):
        export_delta_log(applier.target)
    applier.target.compact()
    # the stream contains deletes -> compaction retains tombstones
    with pytest.raises(ValueError, match="tombstone"):
        export_delta_log(applier.target)


def test_delta_log_roundtrip_and_incremental_versions(spark, lake):
    applier, chg = lake
    applier.target.compact()
    applier.target.expire_tombstones()
    res = export_delta_log(applier.target)
    assert res["version"] == 0 and res["n_add"] > 0 and res["n_remove"] == 0

    got = _delta_reader_state(applier.target.path)
    ok, msg = table_state_matches(
        got.drop(columns=["bucket"]), expected_final_state(chg)
    )
    assert ok, msg

    # log replays to exactly the engine's own file listing
    v0 = res
    again = export_delta_log(applier.target)
    assert again["version"] == v0["version"]  # no change -> no new version
    assert again["n_add"] == 0 and again["n_remove"] == 0

    # new commit -> incremental diff version with removes for rewritten
    # buckets and adds for their replacements
    extra = generate_changes(
        spark, 500, n_convs=30, max_turns=8, invalid_one_in=0, seed=78
    ).withColumn("lsn", F.col("lsn") + 100000)
    applier.replay(extra, chunk_size=500)
    applier.target.compact()
    applier.target.expire_tombstones()
    res2 = export_delta_log(applier.target)
    assert res2["version"] == v0["version"] + 1
    assert res2["n_add"] > 0 and res2["n_remove"] > 0

    got2 = _delta_reader_state(applier.target.path)
    eng = applier.target.read().toPandas()
    ok, msg = table_state_matches(got2.drop(columns=["bucket"]), eng)
    assert ok, msg


def test_snapshot_parquet_export(spark, lake, tmp_path):
    applier, chg = lake
    out = export_snapshot_parquet(
        applier.target, str(tmp_path / "plain"), partition_by_bucket=False
    )
    con = duckdb.connect()
    got = con.sql(f"SELECT * FROM read_parquet('{out}/*.parquet')").df()
    eng = applier.target.read().toPandas()
    ok, msg = table_state_matches(got, eng)
    assert ok, msg


def test_delta_log_version_claim_is_atomic(spark, tmp_path, monkeypatch):
    """A concurrent exporter that claims version N after this one listed
    the log (and checked for N) must make this export fail, never be
    silently overwritten."""
    from pyspark.sql import types as T

    from data_services_spark.lake import export
    from data_services_spark.lake.table import LakeTable

    schema = T.StructType([
        T.StructField("k", T.IntegerType(), False),
        T.StructField("v", T.StringType(), True),
    ])
    t = LakeTable.create(spark, str(tmp_path / "t"), schema, ["k"], 2)
    t.append_rows([{"k": 1, "v": "a"}, {"k": 2, "v": "b"}])
    assert export_delta_log(t)["version"] == 0
    t.append_rows([{"k": 3, "v": "c"}])

    log_dir = os.path.join(t.path, "_delta_log")
    target = os.path.join(log_dir, f"{1:020d}.json")
    racer = b'{"commitInfo": {"engineInfo": "racer"}}\n'
    with open(target, "wb") as f:
        f.write(racer)
    # the racer's version landed after this exporter listed the log ...
    listed = export._log_versions
    monkeypatch.setattr(
        export, "_log_versions", lambda d: [v for v in listed(d) if v != 1]
    )
    # ... and after any existence check it makes on the target
    real_exists = os.path.exists
    misses = [target]

    def stale_exists(p):
        if p in misses:
            misses.remove(p)
            return False
        return real_exists(p)

    monkeypatch.setattr(export.os.path, "exists", stale_exists)
    with pytest.raises(FileExistsError):
        export_delta_log(t)
    with open(target, "rb") as f:
        assert f.read() == racer
    assert not [n for n in os.listdir(log_dir) if n.endswith(".tmp")]
