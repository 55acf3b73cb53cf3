"""Branch refs: named mutable pointers over the shared snapshot DAG
(Iceberg/Paimon branches) — isolated multi-commit lines of work with the
full verb set, merged back by fast-forward."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_services_spark.lake import CommitConflict, LakeTable

SCHEMA = T.StructType([
    T.StructField("k", T.StringType(), False),
    T.StructField("v", T.StringType(), True),
])


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _rows(t):
    return sorted(tuple(r) for r in t.read().collect())


def test_branch_isolation_and_fast_forward(spark, tmp_table_dir):
    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, ["k"], bucket_count=4)
    t.append(_df(spark, [("a", "x")]))
    main_head = t.current_snapshot_id()

    t.create_branch("backfill")
    b = t.branch_table("backfill")
    b.append(_df(spark, [("b", "y")]))
    b.append(_df(spark, [("c", "z")]))

    # branch sees its commits; main does not
    assert _rows(b) == [("a", "x"), ("b", "y"), ("c", "z")]
    assert _rows(t) == [("a", "x")]
    assert t.current_snapshot_id() == main_head
    # branch history = shared prefix + its own commits
    assert [s.snapshot_id for s in t.snapshots()] == [
        s.snapshot_id for s in b.snapshots()][:len(t.snapshots())]

    # fast-forward main to the branch head (metadata-only merge)
    head = t.fast_forward("backfill")
    assert t.current_snapshot_id() == head
    assert _rows(t) == [("a", "x"), ("b", "y"), ("c", "z")]
    t.drop_branch("backfill")
    assert t.branches() == {}


def test_fast_forward_refuses_divergence(spark, tmp_table_dir):
    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, ["k"], bucket_count=4)
    t.append(_df(spark, [("a", "x")]))
    t.create_branch("wip")
    b = t.branch_table("wip")
    b.append(_df(spark, [("b", "y")]))
    t.append(_df(spark, [("c", "z")]))  # main moves too -> diverged
    with pytest.raises(CommitConflict):
        t.fast_forward("wip")
    # both lines remain intact and readable
    assert _rows(t) == [("a", "x"), ("c", "z")]
    assert _rows(b) == [("a", "x"), ("b", "y")]


def test_branch_guards(spark, tmp_table_dir):
    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, ["k"], bucket_count=4)
    with pytest.raises(ValueError):
        t.create_branch("x", snapshot_id=99)
    t.create_branch("x")
    with pytest.raises(ValueError):
        t.create_branch("x")  # duplicate
    with pytest.raises(ValueError):
        LakeTable(spark, tmp_table_dir, branch="ghost")
    with pytest.raises(KeyError):
        t.fast_forward("ghost")
    with pytest.raises(KeyError):
        t.drop_branch("ghost")
    for verb in (t.drop_tag, t.read_tag, t.staged_manifest):
        with pytest.raises(KeyError):
            verb("ghost")
    # a name create refuses is refused by every verb, not looked up
    for bad in ("", "a/b", ".x"):
        for verb in (t.create_branch, t.tag, t.drop_tag, t.read_tag,
                     t.drop_branch, t.fast_forward, t.staged_manifest):
            with pytest.raises(ValueError):
                verb(bad)
    b = t.branch_table("x")
    with pytest.raises(ValueError):
        b.fast_forward("x")  # main-handle verb
    with pytest.raises(ValueError):
        b.expire_snapshots(keep_last=1)  # expiry runs on main


def test_expiry_pins_branch_ancestry(spark, tmp_table_dir):
    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, ["k"], bucket_count=4)
    t.append(_df(spark, [("a", "x")]))
    fork = t.current_snapshot_id()
    t.create_branch("old")
    for i in range(6):
        t.append(_df(spark, [(f"k{i}", "v")]))
    removed = t.expire_snapshots(keep_last=2)
    assert fork not in removed  # branch ancestry pinned
    b = t.branch_table("old")
    assert _rows(b) == [("a", "x")]  # still fully readable
    t.drop_branch("old")
    removed2 = t.expire_snapshots(keep_last=2)
    assert fork in removed2  # unpinned once the branch is gone


def test_branch_rollback_uses_ancestry_not_ids(spark, tmp_table_dir):
    """With DAG-global ids, a branch snapshot's id can be numerically
    smaller than main's head without being its ancestor — rollback must
    refuse it."""
    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, ["k"], bucket_count=4)
    t.append(_df(spark, [("a", "x")]))
    t.create_branch("side")
    b = t.branch_table("side")
    b.append(_df(spark, [("b", "y")]))   # allocates the next DAG id
    t.append(_df(spark, [("c", "z")]))   # main head id > branch commit id
    side_id = b.current_snapshot_id()
    assert side_id < t.current_snapshot_id()
    with pytest.raises(ValueError):
        t.rollback(side_id)  # smaller id, but not on main's line
    # a genuine ancestor still works
    t.rollback(1)
    assert _rows(t) == [("a", "x")]


def test_branch_concurrent_commits_conflict_cleanly(spark, tmp_table_dir):
    """Main and a branch committing 'simultaneously' race for the same
    DAG id; the O_EXCL manifest write + retry re-allocation must let both
    land with distinct ids."""
    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, ["k"], bucket_count=4)
    t.append(_df(spark, [("a", "x")]))
    t.create_branch("side")
    b = t.branch_table("side")
    b.append(_df(spark, [("b", "y")]))
    t.append(_df(spark, [("c", "z")]))
    ids = [s.snapshot_id for s in t.all_snapshots()]
    assert len(ids) == len(set(ids))
    assert _rows(t) == [("a", "x"), ("c", "z")]
    assert _rows(b) == [("a", "x"), ("b", "y")]


# ----------------------------- timestamp time travel + incremental-between


def test_timestamp_as_of(spark, tmp_table_dir):
    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, ["k"], bucket_count=4)
    t.append(_df(spark, [("a", "x")]))
    ts1 = t.snapshot().committed_at
    assert ts1 is not None
    t.append(_df(spark, [("b", "y")]))
    ts2 = t.snapshot().committed_at
    assert ts2 >= ts1
    # resolve strictly between the two commits -> first state
    assert sorted(
        tuple(r) for r in t.read_as_of(ts1).collect()
    ) == [("a", "x")]
    assert sorted(
        tuple(r) for r in t.read_as_of(ts2 + 1).collect()
    ) == [("a", "x"), ("b", "y")]
    with pytest.raises(ValueError):
        t.snapshot_as_of(ts1 - 1000)


def test_changes_between_tags(spark, tmp_table_dir):
    t = LakeTable.create(
        spark, tmp_table_dir, SCHEMA, ["k"], bucket_count=4,
        props={"merge_keys": ["k"]},
    )
    t.append(_df(spark, [("a", "x")]))
    t.tag("rel1")
    t.append(_df(spark, [("b", "y")]))
    t.tag("rel2")
    t.append(_df(spark, [("c", "z")]))

    ch = t.changes_between_tags("rel1", "rel2")
    assert sorted((r["k"], r["op"]) for r in ch.collect()) == [("b", "I")]
    ch_head = t.changes_between_tags("rel2")  # to current head
    assert sorted((r["k"], r["op"]) for r in ch_head.collect()) == [("c", "I")]
    with pytest.raises(KeyError):
        t.changes_between_tags("ghost")


# ------------------------------------------------------------ metadata tables


def test_metadata_tables(spark, tmp_table_dir):
    t = LakeTable.create(
        spark, tmp_table_dir, SCHEMA, ["k"], bucket_count=4,
        props={"merge_keys": ["k"]},
    )
    t.append(_df(spark, [("a", "x"), ("b", "y")]))
    t.tag("rel1")
    t.create_branch("wip")
    t.register_consumer("mart")
    t.stage_files({}, SCHEMA, "audit-1")

    snaps = t.metadata_table("snapshots").collect()
    assert [r["operation"] for r in snaps] == ["create", "append"]
    assert all(r["committed_at"] is not None for r in snaps)
    assert snaps[-1]["n_base_files"] >= 1

    files = t.metadata_table("files").collect()
    assert len(files) == snaps[-1]["n_base_files"]
    assert all(r["layer"] == "base" for r in files)

    refs = {(r["kind"], r["name"]): r["snapshot_id"]
            for r in t.metadata_table("refs").collect()}
    cur = t.current_snapshot_id()
    assert refs[("tag", "rel1")] == cur
    assert refs[("branch", "wip")] == cur
    assert refs[("consumer", "mart")] == cur
    assert refs[("main", "CURRENT")] == cur
    assert refs[("staged", "audit-1")] == cur

    with pytest.raises(ValueError):
        t.metadata_table("nope")


def test_commit_skips_over_occupied_dag_id(spark, tmp_table_dir):
    """Another ref can win the next DAG id without touching our head —
    the commit must re-allocate past the occupied id, not die."""
    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, ["k"], bucket_count=4)
    t.append(_df(spark, [("a", "x")]))
    # occupy the id a concurrent ref would have taken
    import copy

    snap = t.snapshot()
    ghost = copy.deepcopy(snap)
    ghost.snapshot_id = t._next_snapshot_id()
    ghost.parent_id = snap.snapshot_id
    ghost.committed_at = None
    LakeTable._write_snapshot(t._lake, ghost)
    head_before = t.current_snapshot_id()
    t.append(_df(spark, [("b", "y")]))  # must skip past the ghost id
    assert t.current_snapshot_id() > ghost.snapshot_id
    assert t.snapshot().parent_id == head_before
    assert sorted(tuple(r) for r in t.read().collect()) == [
        ("a", "x"), ("b", "y")]


def test_main_and_branch_commit_concurrently(spark, tmp_table_dir):
    """True cross-ref concurrency: a branch writer thread races main for
    DAG ids; both lines must land completely with distinct ids."""
    import threading

    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, ["k"], bucket_count=4)
    t.append(_df(spark, [("seed", "s")]))
    t.create_branch("race")
    b = t.branch_table("race")
    errs = []

    def branch_writer():
        try:
            for i in range(4):
                b.append(_df(spark, [(f"b{i}", "v")]))
        except Exception as e:  # pragma: no cover
            errs.append(e)

    th = threading.Thread(target=branch_writer)
    th.start()
    for i in range(4):
        t.append(_df(spark, [(f"m{i}", "v")]))
    th.join()
    assert not errs
    ids = [s.snapshot_id for s in t.all_snapshots()]
    assert len(ids) == len(set(ids)) == 10  # create + seed + 4 + 4
    assert sorted(r["k"] for r in t.read().collect()) == [
        "m0", "m1", "m2", "m3", "seed"]
    assert sorted(r["k"] for r in b.read().collect()) == [
        "b0", "b1", "b2", "b3", "seed"]


def test_same_ref_concurrent_appends_never_lose_an_update(spark, tmp_table_dir):
    """Two writers on the SAME ref race the commit point: the CAS flip
    must orphan neither — every append lands exactly once on the chain."""
    import threading

    t1 = LakeTable.create(spark, tmp_table_dir, SCHEMA, ["k"], bucket_count=4)
    t2 = LakeTable(spark, tmp_table_dir)
    errs = []

    def writer(t, tag):
        try:
            for i in range(4):
                t.append(_df(spark, [(f"{tag}{i}", "v")]))
        except Exception as e:  # pragma: no cover
            errs.append(e)

    th = threading.Thread(target=writer, args=(t2, "b"))
    th.start()
    writer(t1, "a")
    th.join()
    assert not errs
    assert sorted(r["k"] for r in t1.read().collect()) == [
        "a0", "a1", "a2", "a3", "b0", "b1", "b2", "b3"]
    # the committed chain contains every append (orphaned manifests, if
    # any conflict losers wrote some, are unreachable and unpinned)
    chain_ops = [s.operation for s in t1.snapshots()]
    assert chain_ops.count("append") == 8
