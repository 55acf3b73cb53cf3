"""Metadata files under ``_lake/`` (and Delta-export log versions): every
exclusively-claimed name is durable before it appears, and the ref files
keep their on-disk bytes so existing lakes open unchanged."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import types as T

from data_services_spark.cdc.apply import CdcApplier
from data_services_spark.cdc.generator import generate_changes
from data_services_spark.lake import LakeTable
from data_services_spark.lake.export import export_delta_log

SCHEMA = T.StructType([
    T.StructField("k", T.IntegerType(), False),
    T.StructField("v", T.StringType(), True),
])


def _table(spark, path) -> LakeTable:
    t = LakeTable.create(spark, str(path), SCHEMA, ["k"], 2)
    t.append_rows([{"k": 1, "v": "a"}, {"k": 2, "v": "b"}])
    assert t.current_snapshot_id() == 1
    return t


# one input per claim site: each makes one claim and returns the name

def _tag(spark, p):
    _table(spark, p).tag("rel")
    return p / "_lake" / "tag-rel.json"


def _branch(spark, p):
    _table(spark, p).create_branch("wip")
    return p / "_lake" / "BRANCH-wip"


def _consumer(spark, p):
    _table(spark, p).register_consumer("mart")
    return p / "_lake" / "consumer-mart.json"


def _stage_files(spark, p):
    applier = CdcApplier.bootstrap(spark, str(p), bucket_count=2)
    changes = generate_changes(spark, 200, n_convs=20, max_turns=10, seed=3)
    applier.stage_chunk(changes, "w1")
    return os.path.join(applier.target._lake, "staged-w1.json")


def _export_delta_log(spark, p):
    log_dir = export_delta_log(_table(spark, p))["log_dir"]
    return os.path.join(log_dir, f"{0:020d}.json")


CLAIMS = {
    "tag": _tag,
    "branch": _branch,
    "consumer": _consumer,
    "stage_files": _stage_files,
    "export_delta_log": _export_delta_log,
}


@pytest.mark.parametrize("site", sorted(CLAIMS))
def test_every_claim_is_fsynced_before_it_is_named(spark, tmp_path, monkeypatch, site):
    """A name claimed with ``os.link`` must point at bytes already forced
    to disk; otherwise a crash can leave a named, empty ref or manifest."""
    synced: set[tuple[int, int]] = set()
    linked: list[tuple[str, bool]] = []
    real_fsync, real_link = os.fsync, os.link

    def fsync(fd):
        st = os.fstat(fd)
        synced.add((st.st_dev, st.st_ino))
        return real_fsync(fd)

    def link(src, dst, *args, **kwargs):
        st = os.stat(src)
        linked.append((os.path.abspath(dst), (st.st_dev, st.st_ino) in synced))
        return real_link(src, dst, *args, **kwargs)

    monkeypatch.setattr(os, "fsync", fsync)
    monkeypatch.setattr(os, "link", link)
    target = os.path.abspath(CLAIMS[site](spark, tmp_path))
    assert (target, True) in linked, linked
    assert all(ok for _, ok in linked), [dst for dst, ok in linked if not ok]


STAGED_W1 = (
    '{"wap_id": "w1", "base_id": 1, "bucket_count": 2, "bucket_fn": "murmur3", '
    '"new_files": {}, "schema": {"type": "struct", "fields": [{"name": "k", '
    '"type": "integer", "nullable": false, "metadata": {}}, {"name": "v", '
    '"type": "string", "nullable": true, "metadata": {}}]}, '
    '"summary": {"batch_id": 3}}'
)
REF_FILES = {
    "tag-rel1.json": '{"name": "rel1", "snapshot_id": 1}',
    "BRANCH-wip": "1",
    "consumer-mart.json": '{"name": "mart", "snapshot_id": 1}',
    "staged-w1.json": STAGED_W1,
}


def test_ref_files_keep_their_on_disk_format(spark, tmp_path):
    old = _table(spark, tmp_path / "old")
    for fn, text in REF_FILES.items():
        with open(os.path.join(old._lake, fn), "w") as f:
            f.write(text)
    assert old.tags() == {"rel1": 1}
    assert old.branches() == {"wip": 1}
    assert old.branch_table("wip").current_snapshot_id() == 1
    assert old.consumers() == {"mart": 1}
    assert old.list_staged() == ["w1"]
    assert old.staged_manifest("w1")["summary"] == {"batch_id": 3}

    new = _table(spark, tmp_path / "new")
    new.tag("rel1")
    new.create_branch("wip")
    new.register_consumer("mart")
    new.ack_consumer("mart", 1)
    new.stage_files({}, SCHEMA, "w1", {"batch_id": 3})
    for fn, text in REF_FILES.items():
        with open(os.path.join(new._lake, fn)) as f:
            assert f.read() == text, fn
