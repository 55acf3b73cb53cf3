"""Write-audit-publish (WAP) staged batches.

Iceberg's ``wap.id`` workflow re-expressed on the engine's snapshot model
(reference analogue: files wait in a wip/ area until the checker passes,
then move into the indexed hierarchy — here the "move" is one atomic
snapshot flip over the exact audited bytes). Pins:

* a staged batch is invisible to readers and does NOT advance offsets;
* the audit read resolves the staged overlay through the normal LWW path;
* publish (fast-forward) yields the same final state as a direct apply,
  with files + offsets becoming visible in ONE commit;
* publish after an intervening commit (cherry-pick) converges to the
  both-batches state and never regresses the resume watermark;
* abandon removes every trace and costs no events (they replay later);
* a bucket-layout change between stage and publish refuses;
* orphan-file GC never sweeps staged (uncommitted-by-design) files;
* duplicate wap_ids are rejected and the loser's files are cleaned up.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from data_services_spark.cdc.apply import CdcApplier
from data_services_spark.cdc.generator import generate_changes
from data_services_spark.cdc.oracle import expected_final_state, table_state_matches
from data_services_spark.contracts import Contract, ContractSuite

N_EVENTS = 6000


@pytest.fixture(scope="module")
def changes_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("wap_changes") / "changes.parquet")
    generate_changes(
        spark, N_EVENTS, n_convs=150, max_turns=20, n_hot=2, hot_pct=25,
        invalid_one_in=0, seed=23,
    ).write.parquet(p)
    return p


def _halves(spark, changes_path):
    changes = spark.read.parquet(changes_path)
    hi = changes.agg(F.max("lsn")).collect()[0][0]
    mid = hi // 2
    return changes, mid, hi


def test_staged_invisible_then_publish_fast_forward(spark, changes_path, tmp_path):
    applier = CdcApplier.bootstrap(spark, str(tmp_path / "lake"), bucket_count=8)
    changes, mid, hi = _halves(spark, changes_path)
    applier.replay(changes, chunk_size=hi, source_hi=mid)
    snap_before = applier.target.current_snapshot_id()
    lsn_before = applier.committed_lsn()

    info = applier.stage_chunk(
        changes.where(F.col("lsn") > mid), "batch-b", hi=hi
    )
    assert info["staged_files"] > 0 and not info["skipped"]
    # invisible: same snapshot, same offsets, same visible row count
    assert applier.target.current_snapshot_id() == snap_before
    assert applier.committed_lsn() == lsn_before
    ok, msg = table_state_matches(
        applier.target.read().toPandas(),
        expected_final_state(changes_path, hi_lsn=mid),
    )
    assert ok, f"staged batch leaked into the visible state: {msg}"
    # the audit read IS the post-publish state
    ok, msg = table_state_matches(
        applier.target.read_staged("batch-b").toPandas(),
        expected_final_state(changes_path),
    )
    assert ok, msg

    passed, report = applier.audit_staged("batch-b")
    assert passed, report.toPandas().to_dict("records")

    applier.publish_chunk("batch-b")
    assert applier.committed_lsn() == hi  # offsets rode the same commit
    ok, msg = table_state_matches(
        applier.target.read().toPandas(), expected_final_state(changes_path)
    )
    assert ok, msg
    assert applier.target.list_staged() == []
    lin = applier.lineage.read()
    assert lin.where("status = 'wap_published'").count() > 0


def test_stage_publish_equals_apply(spark, tmp_path):
    """``stage_chunk`` + ``publish_chunk`` and ``apply_chunk`` share one
    write prefix: fed the same chunk on twin lakes they commit the same
    offsets, delta files, visible state and lineage — the lineage rows
    differ only in status, duration and where the quarantine count
    rides."""
    src = str(tmp_path / "changes.parquet")
    generate_changes(
        spark, 3000, n_convs=100, max_turns=12, invalid_one_in=97, seed=41,
    ).write.parquet(src)
    changes = spark.read.parquet(src)
    first, rest = changes.where("lsn < 1500"), changes.where("lsn >= 1500")
    staged = CdcApplier.bootstrap(spark, str(tmp_path / "wap"), bucket_count=8)
    applied = CdcApplier.bootstrap(spark, str(tmp_path / "app"), bucket_count=8)
    for a in (staged, applied):
        a.apply_chunk(first, lo=-1, hi=1499, batch_id=0)

    info = staged.stage_chunk(rest, "w", batch_id=1)
    staged.publish_chunk("w")
    stats = applied.apply_chunk(rest, lo=1499, hi=None, batch_id=1)
    assert info["n_quarantined"] == stats.n_quarantined > 0
    assert info["hi"] == stats.hi

    snaps = [a.target.snapshot() for a in (staged, applied)]
    assert snaps[0].summary["offsets"] == snaps[1].summary["offsets"]
    rows = [
        {b: st["n_rows"] for b, st in a.target.file_stats(s.delta_files).items()}
        for a, s in zip((staged, applied), snaps)
    ]
    assert rows[0] == rows[1]
    ok, msg = table_state_matches(
        staged.target.read().toPandas(), applied.target.read().toPandas()
    )
    assert ok, msg

    def lineage(a):
        return sorted(
            (
                {k: v for k, v in r.asDict().items()
                 if k not in ("status", "duration_ms", "n_quarantined")}
                for r in a.lineage.read().where("batch_id = 1").collect()
            ),
            key=lambda r: r["source_partition"],
        )

    assert lineage(staged) == lineage(applied) != []


def test_abandon_costs_no_events(spark, changes_path, tmp_path):
    applier = CdcApplier.bootstrap(spark, str(tmp_path / "lake"), bucket_count=8)
    changes, mid, hi = _halves(spark, changes_path)
    applier.replay(changes, chunk_size=hi, source_hi=mid)

    failing = ContractSuite(
        [Contract("no_rows_at_all", "predicate", predicate_sql="1 = 0")]
    )
    applier.stage_chunk(changes.where(F.col("lsn") > mid), "bad-batch", hi=hi)
    passed, _ = applier.audit_staged("bad-batch", suite=failing)
    assert not passed
    removed = applier.abandon_chunk("bad-batch")
    assert removed > 0
    assert applier.target.list_staged() == []
    # no trace: offsets unchanged -> the same events replay later
    assert applier.committed_lsn() == mid or applier.committed_lsn() <= mid
    applier.replay(changes, chunk_size=hi)
    ok, msg = table_state_matches(
        applier.target.read().toPandas(), expected_final_state(changes_path)
    )
    assert ok, msg
    assert applier.lineage.read().where("status = 'wap_abandoned'").count() == 1


def test_cherry_pick_after_intervening_commit(spark, changes_path, tmp_path):
    applier = CdcApplier.bootstrap(spark, str(tmp_path / "lake"), bucket_count=8)
    changes, mid, hi = _halves(spark, changes_path)
    third = hi // 3
    applier.replay(changes, chunk_size=hi, source_hi=third)
    # stage (third, mid], then a NORMAL commit of (mid, hi] lands first
    applier.stage_chunk(
        changes.where((F.col("lsn") > third) & (F.col("lsn") <= mid)),
        "late-batch", hi=mid,
    )
    applier.apply_chunk(
        changes.where(F.col("lsn") > mid), lo=mid, hi=hi,
        batch_id=99,
    )
    assert applier.committed_lsn() == hi
    applier.publish_chunk("late-batch")  # cherry-pick onto the new current
    # watermark never regressed, and the state is the both-batches state
    assert applier.committed_lsn() == hi
    ok, msg = table_state_matches(
        applier.target.read().toPandas(), expected_final_state(changes_path)
    )
    assert ok, msg


def test_rebucket_between_stage_and_publish_refuses(spark, changes_path, tmp_path):
    applier = CdcApplier.bootstrap(spark, str(tmp_path / "lake"), bucket_count=4)
    changes, mid, hi = _halves(spark, changes_path)
    applier.replay(changes, chunk_size=hi, source_hi=mid)
    applier.stage_chunk(changes.where(F.col("lsn") > mid), "pre-resize", hi=hi)
    applier.target.rebucket(8)
    with pytest.raises(ValueError, match="bucket layout changed"):
        applier.target.publish_staged("pre-resize")
    # the prescribed recovery: abandon, re-stage against the new layout
    applier.abandon_chunk("pre-resize")
    applier.stage_chunk(changes.where(F.col("lsn") > mid), "post-resize", hi=hi)
    applier.publish_chunk("post-resize")
    ok, msg = table_state_matches(
        applier.target.read().toPandas(), expected_final_state(changes_path)
    )
    assert ok, msg


def test_orphan_gc_spares_staged_files(spark, changes_path, tmp_path):
    applier = CdcApplier.bootstrap(spark, str(tmp_path / "lake"), bucket_count=8)
    changes, mid, hi = _halves(spark, changes_path)
    applier.replay(changes, chunk_size=hi, source_hi=mid)
    applier.stage_chunk(changes.where(F.col("lsn") > mid), "pending", hi=hi)
    # age cutoff 0 would sweep ANY unreferenced file — staged must survive
    assert applier.target.remove_orphan_files(older_than_sec=0.0) == []
    applier.publish_chunk("pending")
    ok, msg = table_state_matches(
        applier.target.read().toPandas(), expected_final_state(changes_path)
    )
    assert ok, msg


def test_duplicate_wap_id_rejected_and_cleaned(spark, changes_path, tmp_path):
    applier = CdcApplier.bootstrap(spark, str(tmp_path / "lake"), bucket_count=8)
    changes, mid, hi = _halves(spark, changes_path)
    applier.replay(changes, chunk_size=hi, source_hi=mid)
    tail = changes.where(F.col("lsn") > mid)
    applier.stage_chunk(tail, "dup-id", hi=hi)
    files_after_first = {
        os.path.join(dp, f)
        for dp, _, fs in os.walk(applier.target.path) for f in fs
    }
    with pytest.raises(ValueError, match="already staged"):
        applier.target.stage_delta(
            tail.withColumn("op", F.lit("U")).withColumn("_del", F.lit(None).cast("int")),
            "dup-id",
        )
    files_after_loser = {
        os.path.join(dp, f)
        for dp, _, fs in os.walk(applier.target.path) for f in fs
    }
    # the losing stage removed its own data files (no debris)
    assert files_after_loser == files_after_first
    applier.publish_chunk("dup-id")
    ok, msg = table_state_matches(
        applier.target.read().toPandas(), expected_final_state(changes_path)
    )
    assert ok, msg


def test_replay_job_wap_audit_cli(spark, changes_path, tmp_path, capsys):
    """The spark-submit surface: --wap-audit stages, audits, publishes each
    chunk and the final state still matches the DuckDB oracle."""
    import json

    from data_services_spark.jobs import replay_job

    rc = replay_job.main([
        "--root", str(tmp_path / "lake"), "--changes", changes_path,
        "--chunk-size", "3000", "--wap-audit", "--verify-oracle",
    ])
    assert rc == 0
    lines = [json.loads(ln) for ln in capsys.readouterr().out.strip().splitlines()]
    assert lines[-1]["oracle_match"] and lines[-1]["chunks"] >= 2
    assert all(ln["published"] for ln in lines[:-1])


def test_replay_job_wap_halt_on_audit_failure(spark, changes_path, tmp_path,
                                              monkeypatch, capsys):
    """Audit failure HALTS the replay (exit 3): offsets stop at the last
    published chunk, so no later publish can strand the failed batch's
    events — the exactly-once contract across audit rejection."""
    import json

    from data_services_spark.cdc.apply import CdcApplier
    from data_services_spark.jobs import replay_job

    calls = {"n": 0}
    real = CdcApplier.audit_staged

    def fake(self, wap_id, suite=None, refs=None):
        calls["n"] += 1
        if calls["n"] == 2:  # second chunk fails its audit
            report = self.spark.createDataFrame(
                [("forced_fail", "predicate", 1)],
                "check_name string, kind string, n_violations long",
            )
            return False, report
        return real(self, wap_id, suite=suite, refs=refs)

    monkeypatch.setattr(CdcApplier, "audit_staged", fake)
    rc = replay_job.main([
        "--root", str(tmp_path / "lake"), "--changes", changes_path,
        "--chunk-size", "2000", "--wap-audit",
    ])
    assert rc == 3
    lines = [json.loads(ln) for ln in capsys.readouterr().out.strip().splitlines()]
    assert lines[-1]["halted_at"] == lines[-2]["wap_id"]
    assert lines[-2]["published"] is False
    assert lines[-2]["failed_checks"] == ["forced_fail"]
    applier = CdcApplier.load(spark, str(tmp_path / "lake"))
    assert applier.committed_lsn() == 1999  # first chunk only
    assert applier.target.list_staged() == []  # abandoned, no residue


def test_stream_wap_audit_matches_oracle(spark, tmp_path):
    """Streaming WAP gate: every micro-batch stages, audits, publishes —
    final state equals the oracle and epochs are committed (exactly-once
    bookkeeping rode the published summaries)."""
    from data_services_spark.contracts import transcripts_suite
    from data_services_spark.streaming.stream_apply import (
        start_apply_stream,
        stream_changes,
    )

    src = str(tmp_path / "stream_src")
    full = generate_changes(spark, 4500, n_convs=100, max_turns=12, seed=41)
    for lo, hi in [(0, 1500), (1500, 3000), (3000, 4500)]:
        (full.where((F.col("lsn") >= lo) & (F.col("lsn") < hi))
             .coalesce(1).write.mode("append").parquet(src))
    applier = CdcApplier.bootstrap(spark, str(tmp_path / "lake"), bucket_count=8)

    q = start_apply_stream(
        applier,
        stream_changes(spark, src, max_files_per_trigger=1),
        checkpoint_dir=str(tmp_path / "ckpt"),
        audit_suite=transcripts_suite(),
    )
    q.processAllAvailable()
    q.stop()
    ok, msg = table_state_matches(
        applier.target.read().toPandas(), expected_final_state(src)
    )
    assert ok, msg
    assert applier.target.snapshot().summary.get("epoch") is not None
    assert applier.target.list_staged() == []


def test_stream_wap_audit_failure_fails_query_then_recovers(spark, tmp_path):
    """A failing micro-batch audit FAILS the query with the epoch
    uncommitted and the batch left staged for inspection; a restart with a
    passing suite redelivers the batch (abandon + re-stage) and converges
    to the oracle — no events lost to the rejection."""
    from data_services_spark.contracts import Contract, ContractSuite, transcripts_suite
    from data_services_spark.streaming.stream_apply import (
        start_apply_stream,
        stream_changes,
    )

    src = str(tmp_path / "stream_src")
    full = generate_changes(spark, 3000, n_convs=100, max_turns=12, seed=43)
    for lo, hi in [(0, 1500), (1500, 3000)]:
        (full.where((F.col("lsn") >= lo) & (F.col("lsn") < hi))
             .coalesce(1).write.mode("append").parquet(src))
    root = str(tmp_path / "lake")
    ckpt = str(tmp_path / "ckpt")
    applier = CdcApplier.bootstrap(spark, root, bucket_count=8)

    rejecting = ContractSuite(
        [Contract("reject_everything", "predicate", predicate_sql="1 = 0")]
    )
    q = start_apply_stream(
        applier, stream_changes(spark, src, 1), ckpt, audit_suite=rejecting
    )
    with pytest.raises(Exception, match="failed audit"):
        q.processAllAvailable()
    q.stop()
    assert applier.target.snapshot().summary.get("epoch", -1) == -1
    assert applier.target.list_staged() == ["epoch-0"]  # kept for inspection

    # operator "fixes the rule": restart from the same checkpoint
    applier2 = CdcApplier.load(spark, root)
    q2 = start_apply_stream(
        applier2, stream_changes(spark, src, 1), ckpt,
        audit_suite=transcripts_suite(),
    )
    q2.processAllAvailable()
    q2.stop()
    ok, msg = table_state_matches(
        applier2.target.read().toPandas(), expected_final_state(src)
    )
    assert ok, msg
    assert applier2.target.list_staged() == []


def test_publish_crash_before_manifest_removal_is_safe(spark, changes_path, tmp_path):
    """Crash window: publish commits, then dies before removing the staged
    manifest. The stale manifest must be harmless — abandon refuses to
    delete the now-live files (manifest-only removal), and republish is an
    idempotent no-op, not a duplicate delta layer."""
    applier = CdcApplier.bootstrap(spark, str(tmp_path / "lake"), bucket_count=8)
    changes, mid, hi = _halves(spark, changes_path)
    applier.replay(changes, chunk_size=hi, source_hi=mid)
    applier.stage_chunk(changes.where(F.col("lsn") > mid), "crashy", hi=hi)
    man_path = applier.target._refs["staged"].path("crashy")
    saved = open(man_path).read()
    applier.publish_chunk("crashy")

    # --- crash replayed: the manifest is back on disk after the commit
    open(man_path, "w").write(saved)
    assert applier.target.abandon_staged("crashy") == 0  # live data untouched
    ok, msg = table_state_matches(
        applier.target.read().toPandas(), expected_final_state(changes_path)
    )
    assert ok, msg

    open(man_path, "w").write(saved)
    snap_before = applier.target.current_snapshot_id()
    applier.target.publish_staged("crashy")  # idempotent republish
    assert applier.target.current_snapshot_id() == snap_before
    assert applier.target.list_staged() == []
    ok, msg = table_state_matches(
        applier.target.read().toPandas(), expected_final_state(changes_path)
    )
    assert ok, msg


def test_maintain_job_wap_runbook(spark, changes_path, tmp_path, capsys):
    """The operator runbook after an audit halt, entirely through the CLI
    surface: list the staged batch, re-audit it, abandon it, then re-drive
    the replay — final state matches the oracle (nothing lost). Also pins
    publish-staged through the CLI on a fresh stage."""
    import json

    from data_services_spark.jobs import maintain_job

    applier = CdcApplier.bootstrap(spark, str(tmp_path / "lake"), bucket_count=8)
    changes, mid, hi = _halves(spark, changes_path)
    applier.replay(changes, chunk_size=hi, source_hi=mid)
    applier.stage_chunk(changes.where(F.col("lsn") > mid), "halted-batch", hi=hi)
    root = str(tmp_path / "lake")

    rc = maintain_job.main(["--root", root, "--list-staged"])
    assert rc == 0
    out = [json.loads(ln) for ln in capsys.readouterr().out.strip().splitlines()]
    assert out[0]["staged"] == ["halted-batch"]

    # the staged batch is actually clean -> CLI audit passes (exit 0)
    rc = maintain_job.main(["--root", root, "--audit-staged", "halted-batch"])
    assert rc == 0
    out = [json.loads(ln) for ln in capsys.readouterr().out.strip().splitlines()]
    assert all(v == 0 for k, v in out[0]["staged_audit"].items() if k != "wap_id")

    # publish through the CLI; final state = full oracle
    rc = maintain_job.main(["--root", root, "--publish-staged", "halted-batch"])
    assert rc == 0
    ok, msg = table_state_matches(
        applier.target.read().toPandas(), expected_final_state(changes_path)
    )
    assert ok, msg

    # abandon path: stage junk, abandon via CLI, no trace
    applier.stage_chunk(
        changes.where(F.col("lsn") > mid)
        .withColumn("lsn", (F.col("lsn") + F.lit(1_000_000)).cast("long")),
        "junk",
    )
    rc = maintain_job.main(["--root", root, "--abandon-staged", "junk"])
    assert rc == 0
    out = [json.loads(ln) for ln in capsys.readouterr().out.strip().splitlines()]
    assert out[-1]["abandoned"]["files_removed"] > 0
    assert applier.target.list_staged() == []
    ok, msg = table_state_matches(
        applier.target.read().toPandas(), expected_final_state(changes_path)
    )
    assert ok, msg


def test_expire_snapshots_retains_staged_base(spark, changes_path, tmp_path):
    """A staged batch PINS its base snapshot: snapshot expiry keeps it
    alive so read_staged works mid-audit no matter how many commits land
    meanwhile; publishing the (by then fully-overlapped) batch is a LWW
    no-op and the watermark never regresses."""
    applier = CdcApplier.bootstrap(spark, str(tmp_path / "lake"), bucket_count=8)
    changes, mid, hi = _halves(spark, changes_path)
    applier.replay(changes, chunk_size=hi, source_hi=mid)
    applier.stage_chunk(changes.where(F.col("lsn") > mid), "pinned", hi=hi)
    base_id = applier.target.staged_manifest("pinned")["base_id"]

    # many more commits, then aggressive expiry that would drop the base
    applier.replay(changes, chunk_size=(hi - mid) // 5)
    applier.target.expire_snapshots(keep_last=2)
    assert applier.target.snapshot(base_id) is not None  # pinned, not expired
    assert applier.target.read_staged("pinned").count() > 0  # audit still works

    applier.target.publish_staged("pinned")  # fully-overlapped -> LWW no-op
    assert applier.committed_lsn() == hi
    ok, msg = table_state_matches(
        applier.target.read().toPandas(), expected_final_state(changes_path)
    )
    assert ok, msg


def test_describe_shows_staged(spark, changes_path, tmp_path):
    applier = CdcApplier.bootstrap(spark, str(tmp_path / "lake"), bucket_count=8)
    changes, mid, hi = _halves(spark, changes_path)
    applier.replay(changes, chunk_size=hi, source_hi=mid)
    applier.stage_chunk(changes.where(F.col("lsn") > mid), "visible-in-describe", hi=hi)
    assert applier.target.describe()["staged_wap_ids"] == ["visible-in-describe"]
    applier.publish_chunk("visible-in-describe")
    assert applier.target.describe()["staged_wap_ids"] == []
