"""The engine must be correct under ANY caller's SparkSession — not just
the one built by :mod:`data_services_spark.session`.

Round-4 driver failure (CORRECTNESS_r04: engine_first_row_apply,
engine_pruned_time_scan, engine_tombstone_gc): the driver harness leaves
``spark.sql.parquet.outputTimestampType`` at its legacy INT96 default, so
delta files landed as INT96, pyarrow read them back as ``timestamp[ns]``,
the zero-shuffle local compaction echoed TIMESTAMP(NANOS) parquet out, and
Spark's vectorized reader refused the compacted file
(``SchemaColumnConvertNotSupportedException``). INT96 footers also carry
no usable min/max stats, silently disabling manifest-level data skipping.

Two independent defenses, each pinned here:

* ``_pin_portable_write_conf`` — every ``LakeTable`` handle (and therefore
  every bootstrap/create/load path) flips the session to TIMESTAMP_MICROS
  at construction, so engine writes are portable no matter how the session
  was built;
* the Arrow bucket fold's reader (``fold.read_files``, which compaction
  shares with the driver-side lookup and changelog) reads every timestamp
  as UTC microseconds, so even pre-existing INT96/nanos input files can
  never propagate their physical quirk into compacted output.
"""

from __future__ import annotations

import datetime as dt
import glob
import os

import pytest
from pyspark.sql import functions as F

from data_services_spark.cdc.apply import CdcApplier
from data_services_spark.cdc.generator import generate_changes
from data_services_spark.cdc.oracle import expected_final_state, table_state_matches

_CONF = "spark.sql.parquet.outputTimestampType"


@pytest.fixture()
def int96_session(spark):
    """Simulate the driver harness: a session left at the INT96 default."""
    prev = spark.conf.get(_CONF)
    spark.conf.set(_CONF, "INT96")
    yield spark
    spark.conf.set(_CONF, prev)


@pytest.fixture(scope="module")
def changes_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("port_changes") / "changes.parquet")
    generate_changes(
        spark, 5000, n_convs=120, max_turns=15, n_hot=2, hot_pct=20,
        invalid_one_in=0, seed=23,
    ).write.parquet(p)
    return p


def _ts_physical_types(root: str) -> set[str]:
    """Physical/logical type of the ``ts`` column across every data file."""
    import pyarrow.parquet as pq

    out = set()
    for f in glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True):
        md = pq.ParquetFile(f).metadata
        sc = md.schema
        for i in range(md.num_columns):
            col = sc.column(i)
            if col.name == "ts":
                out.add(f"{col.physical_type}:{col.logical_type}")
    return out


def test_bootstrap_pins_conf_and_full_cycle_survives(
    int96_session, changes_path, tmp_path
):
    """Bootstrap under an INT96 session: the pin flips the conf, and the
    whole replay -> compact(local) -> pruned read -> expire_tombstones
    cycle (exactly the three red driver entries' shape) is correct."""
    spark = int96_session
    root = str(tmp_path / "lake")
    applier = CdcApplier.bootstrap(
        spark, root, bucket_count=4, target_props={"stats_cols": ["ts", "lsn"]}
    )
    # the handle construction pinned the conf for all subsequent writes
    assert spark.conf.get(_CONF) == "TIMESTAMP_MICROS"

    changes = spark.read.parquet(changes_path)
    applier.replay(changes, chunk_size=2000, compact_at_end=True)

    # 1) compacted files are INT64 micros (readable by Spark's vectorized
    #    reader), never INT96 and never TIMESTAMP(NANOS)
    types = _ts_physical_types(os.path.join(root, "transcripts"))
    assert types and all(t.startswith("INT64") for t in types), types

    # 2) manifest stats exist for ts (data skipping is NOT inert): every
    #    base file carries harvested [min, max] bounds
    snap = applier.target.snapshot()
    base = {f for fs in snap.bucket_files.values() for f in fs}
    assert base
    for f in base:
        st = snap.file_col_stats.get(f, {})
        assert "ts" in st and "lsn" in st, f"no manifest bounds for {f}: {st}"

    # 3) pruned time-range read returns exactly the oracle's slice
    lo = applier.target.read().agg(F.min("ts")).collect()[0][0]
    window = (lo, lo + dt.timedelta(days=10))
    got = applier.target.read(prune={"ts": window}).toPandas()
    exp = expected_final_state(changes_path)
    ets = exp["ts"]
    if getattr(ets.dtype, "tz", None) is not None:
        ets = ets.dt.tz_convert("UTC").dt.tz_localize(None)
    exp = exp[(ets >= window[0]) & (ets <= window[1])]
    ok, msg = table_state_matches(got, exp)
    assert ok, msg

    # 4) tombstone GC (the third red entry) rewrites and remains readable
    applier.target.expire_tombstones()
    ok, msg = table_state_matches(
        applier.target.read().toPandas(), expected_final_state(changes_path)
    )
    assert ok, msg


def test_arrow_cast_defends_preexisting_int96_deltas(
    int96_session, changes_path, tmp_path, monkeypatch
):
    """Even with the conf pin disabled (deltas land INT96, pyarrow reads
    nanos), the rewrite's explicit micros cast keeps compacted output
    readable — the second, independent defense layer."""
    from data_services_spark.lake import table as table_mod

    monkeypatch.setattr(table_mod, "_pin_portable_write_conf", lambda s: None)
    spark = int96_session
    root = str(tmp_path / "lake")
    applier = CdcApplier.bootstrap(spark, root, bucket_count=4)
    changes = spark.read.parquet(changes_path)
    applier.replay(changes, chunk_size=2000)

    # deltas really did land INT96 — the reproduction is honest
    assert "INT96:None" in _ts_physical_types(os.path.join(root, "transcripts"))

    applier.target.compact()
    # compacted base files came out portable INT64 micros despite ns input
    snap = applier.target.snapshot()
    for fs in snap.bucket_files.values():
        for rel in fs:
            types = _ts_physical_types(
                os.path.dirname(os.path.join(root, "transcripts", rel))
            )
            assert all(t.startswith("INT64") for t in types), (rel, types)

    # and Spark's vectorized reader accepts the result, values intact
    ok, msg = table_state_matches(
        applier.target.read().toPandas(), expected_final_state(changes_path)
    )
    assert ok, msg
