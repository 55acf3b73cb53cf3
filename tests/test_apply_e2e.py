"""End-to-end CDC replay vs the DuckDB oracle.

Covers the north-rule gates:
* final-state equality after replaying a stream with out-of-order events,
  duplicate deliveries, multi-updates, deletes and hot keys;
* resume from checkpoint (kill between chunks -> no dupes, no gaps);
* duplicate chunk replay is a table no-op (snapshot grows, state identical);
* additive schema evolution mid-stream;
* quarantine routing of invalid events;
* offsets live in the same atomic commit as the data.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_services_spark.cdc.apply import CdcApplier
from data_services_spark.cdc.generator import generate_changes, strip_evolution
from data_services_spark.cdc.oracle import expected_final_state, table_state_matches

N_EVENTS = 8000


@pytest.fixture(scope="module")
def changes_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("changes") / "changes.parquet")
    df = generate_changes(
        spark,
        N_EVENTS,
        n_convs=200,
        max_turns=20,
        n_hot=2,
        hot_pct=25,
        invalid_one_in=97,
        seed=11,
    )
    df.write.parquet(p)
    return p


def _final_state(applier):
    return applier.target.read().toPandas()


def test_full_replay_matches_oracle(spark, changes_path, tmp_path):
    applier = CdcApplier.bootstrap(spark, str(tmp_path / "lake"), bucket_count=8)
    changes = spark.read.parquet(changes_path)
    stats = applier.replay(changes, chunk_size=3000)
    assert sum(s.n_events for s in stats) > 0
    ok, msg = table_state_matches(
        _final_state(applier), expected_final_state(changes_path)
    )
    assert ok, msg
    # offsets committed atomically with data
    assert applier.committed_lsn() == changes.agg(F.max("lsn")).collect()[0][0]
    # quarantine captured the invalid trickle
    assert applier.quarantine.read().count() == sum(s.n_quarantined for s in stats) > 0
    # lineage has one row per (batch, touched bucket)
    lin = applier.lineage.read()
    assert lin.count() >= len(stats)
    assert lin.where("status <> 'ok'").count() == 0


def test_resume_from_checkpoint(spark, changes_path, tmp_path):
    """Kill between chunk k and k+1, reload from disk, continue: final state
    identical to a single uninterrupted replay."""
    root = str(tmp_path / "lake")
    applier = CdcApplier.bootstrap(spark, root, bucket_count=8)
    changes = spark.read.parquet(changes_path)
    hi = changes.agg(F.max("lsn")).collect()[0][0]
    # first "process" dies after ~half the stream
    applier.replay(changes, chunk_size=2000, source_hi=hi // 2)
    mid_lsn = applier.committed_lsn()
    assert 0 < mid_lsn < hi
    # new process: no in-memory state, resumes from committed offsets
    resumed = CdcApplier.load(spark, root)
    assert resumed.committed_lsn() == mid_lsn
    resumed.replay(changes, chunk_size=2000)
    ok, msg = table_state_matches(
        _final_state(resumed), expected_final_state(changes_path)
    )
    assert ok, msg


def test_duplicate_chunk_replay_is_noop(spark, changes_path, tmp_path):
    root = str(tmp_path / "lake")
    applier = CdcApplier.bootstrap(spark, root, bucket_count=8)
    changes = spark.read.parquet(changes_path)
    applier.replay(changes, chunk_size=4000)
    state_before = _final_state(applier)
    snap_before = applier.target.current_snapshot_id()

    # replay an already-committed chunk verbatim -> skipped outright
    hi = applier.committed_lsn()
    dup = changes.where(F.col("lsn") <= hi // 2)
    s = applier.apply_chunk(dup, -1, hi // 2, batch_id=999)
    assert s.skipped
    assert applier.target.current_snapshot_id() == snap_before

    # force-apply overlapping events anyway (simulates an at-least-once
    # source redelivering old events inside a new, not-yet-committed chunk):
    # row content must not change — every redelivered event loses LWW
    # against the (ts, lsn) already stored on its target row
    s2 = applier.apply_chunk(changes, -1, hi + 1, batch_id=1000)
    assert not s2.skipped and s2.n_events > 0
    assert applier.target.current_snapshot_id() > snap_before  # new snapshot...
    ok, msg = table_state_matches(_final_state(applier), state_before)
    assert ok, msg  # ...same state


def test_schema_evolution_mid_stream(spark, tmp_path):
    root = str(tmp_path / "lake")
    applier = CdcApplier.bootstrap(spark, root, bucket_count=4)
    full = generate_changes(
        spark, 4000, n_convs=100, max_turns=10, with_evolution=True, seed=23
    )
    p = str(tmp_path / "changes_evo.parquet")
    # pre-evolution segment lacks the new columns entirely
    strip_evolution(full.where("lsn < 2000")).write.parquet(p + "/part=0")
    full.where("lsn >= 2000").write.parquet(p + "/part=1")

    old = spark.read.parquet(p + "/part=0")
    new = spark.read.parquet(p + "/part=1")
    applier.apply_chunk(old, -1, 1999, batch_id=0)
    assert applier.target.read().columns == [
        "conv_id", "turn_idx", "role", "text", "tool", "ts", "lsn",
    ]
    applier.apply_chunk(new, 1999, 3999, batch_id=1)
    cols = applier.target.read().columns
    assert cols[-2:] == ["tool_call_id", "metadata_json"]

    exp = expected_final_state(
        f"{p}/*/*.parquet", extra_cols=["tool_call_id", "metadata_json"]
    )
    ok, msg = table_state_matches(_final_state(applier), exp)
    assert ok, msg
    # rows last written pre-evolution read back with NULL new columns
    pre = applier.target.read().where("lsn < 2000")
    assert pre.where(F.col("tool_call_id").isNotNull()).count() == 0


def test_salted_dedup_end_to_end(spark, changes_path, tmp_path):
    """Hot-key stream applied with the explicit two-phase salted dedup gives
    the same final state."""
    applier = CdcApplier.bootstrap(
        spark, str(tmp_path / "lake"), bucket_count=8, dedup_method="salted"
    )
    changes = spark.read.parquet(changes_path)
    applier.replay(changes, chunk_size=5000)
    ok, msg = table_state_matches(
        _final_state(applier), expected_final_state(changes_path)
    )
    assert ok, msg


def test_skewed_stream_salted_equals_maxby(spark, tmp_path):
    """Pathological skew — 50% of ALL events on ONE conv_id (the bench skew
    leg's stream shape, SURVEY §3 / reference faimms.py:245-247 one-channel-
    dominates precedent): the default map-side-combined max_by dedup and the
    explicit two-phase salted dedup must produce identical final state."""
    stream = generate_changes(
        spark, 6000, n_convs=150, max_turns=25, n_hot=1, hot_pct=50, seed=7
    )
    p = str(tmp_path / "skew.parquet")
    stream.write.parquet(p)
    changes = spark.read.parquet(p)
    states = {}
    for method in ("max_by", "salted"):
        applier = CdcApplier.bootstrap(
            spark, str(tmp_path / f"lake_{method}"), bucket_count=8,
            dedup_method=method,
        )
        applier.replay(changes, chunk_size=2500)
        states[method] = _final_state(applier)
    ok, msg = table_state_matches(states["max_by"], states["salted"])
    assert ok, msg
    # and both match the oracle, not merely each other
    ok, msg = table_state_matches(states["salted"], expected_final_state(p))
    assert ok, msg


def test_metrics_table_and_footer_lineage(spark, changes_path, tmp_path):
    """Batch-level metrics (from the apply job's Observation) and per-bucket
    lineage (from parquet footer stats incl. the _del null-count trick) must
    agree with ground truth computed independently from the change stream."""
    applier = CdcApplier.bootstrap(spark, str(tmp_path / "lake"), bucket_count=8)
    changes = spark.read.parquet(changes_path)
    stats = applier.replay(changes, chunk_size=4000)

    met = applier.metrics.read().toPandas().sort_values("batch_id")
    assert len(met) == len([s for s in stats if not s.skipped])
    # metrics event counts == ChunkStats == per-chunk valid-event truth
    assert met["n_events"].sum() == sum(s.n_events for s in stats)
    assert met["n_quarantined"].sum() == applier.quarantine.read().count()

    # lineage winner-level counts: per batch, winners == distinct valid keys
    lin = applier.lineage.read().toPandas()
    from data_services_spark.cdc.validate import split_valid

    valid, _ = split_valid(changes)
    for s in stats:
        truth = (
            valid.where((F.col("lsn") > s.lo) & (F.col("lsn") <= s.hi))
            .select("conv_id", "turn_idx").distinct().count()
        )
        got = int(lin[lin.batch_id == s.batch_id]["n_events"].sum())
        assert got == truth, (s.batch_id, got, truth)
    # per-bucket delete counts (footer null-count) sum to winner-level
    # tombstones: every batch's deletes <= its delete events
    assert (lin.groupby("batch_id")["n_deletes"].sum()
            <= met.set_index("batch_id")["n_deletes"]).all()
    # watermarks: per-batch max_lsn never exceeds the chunk hi
    for s in stats:
        sub = lin[lin.batch_id == s.batch_id]
        assert (sub["max_lsn"] <= s.hi).all()


def test_report_view_cascade(spark, changes_path, tmp_path):
    """The reporting cascade (ANMN view-stack shapes) over a real replay's
    lineage/quarantine/metrics: registers as SQL views, shapes sane."""
    from data_services_spark.plans.reports import (
        register_report_views,
        stale_partitions_report,
    )

    applier = CdcApplier.bootstrap(spark, str(tmp_path / "lake"), bucket_count=8)
    changes = spark.read.parquet(changes_path)
    stats = applier.replay(changes, chunk_size=3000)

    register_report_views(
        spark,
        applier.lineage.read(),
        applier.quarantine.read(),
        applier.metrics.read(),
    )
    batches = spark.sql(
        "SELECT * FROM cdc_batches ORDER BY batch_id"
    ).toPandas()
    assert len(batches) == len([s for s in stats if not s.skipped])
    health = spark.sql("SELECT * FROM cdc_partition_health").toPandas()
    assert (health["watermark_lsn"] > 0).all()
    thr = spark.sql("SELECT * FROM cdc_throughput").toPandas()
    assert (thr["events_per_sec"] > 0).all()
    quar = spark.sql("SELECT * FROM cdc_quarantine_summary").toPandas()
    assert quar["n_events"].sum() == applier.quarantine.read().count()
    # HAVING report: with a fully caught-up replay nothing should lag
    stale = stale_partitions_report(applier.lineage.read(), lag_threshold=3000)
    assert stale.count() == 0


def test_type_widening_mid_stream(spark, tmp_path):
    """Upstream ALTER TABLE ... INT -> BIGINT mid-stream: chunk 1 carries an
    int32 'score' metadata column, chunk 2 the same column as int64 with
    values above 2^35. The widen is metadata-only (no rewrite); pre-widen
    winners upcast from narrow parquet pages, and compaction preserves the
    widened state bit-for-bit."""
    root = str(tmp_path / "lake")
    applier = CdcApplier.bootstrap(spark, root, bucket_count=4)
    full = generate_changes(spark, 4000, n_convs=100, max_turns=10, seed=29)
    narrow = full.where("lsn < 2000").withColumn(
        "score", F.pmod("lsn", F.lit(1000)).cast("int")
    )
    wide = full.where("lsn >= 2000").withColumn(
        "score", (F.pmod("lsn", F.lit(1000)) + F.lit(1 << 35)).cast("long")
    )
    applier.apply_chunk(narrow, -1, 1999, batch_id=0)
    assert dict(applier.target.read().dtypes)["score"] == "int"
    applier.apply_chunk(wide, 1999, 3999, batch_id=1)
    got = applier.target.read()
    assert dict(got.dtypes)["score"] == "bigint"
    # every winner's score matches its winning lsn's era exactly
    bad = got.where(
        (F.col("score").isNotNull())
        & (
            F.when(
                F.col("lsn") >= 2000,
                F.col("score") != F.pmod("lsn", F.lit(1000)) + F.lit(1 << 35),
            ).otherwise(F.col("score") != F.pmod("lsn", F.lit(1000)))
        )
    ).count()
    assert bad == 0
    assert got.where("lsn >= 2000").where(F.col("score") < (1 << 35)).count() == 0
    pre_compact = got.toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    applier.target.compact()
    post = (
        applier.target.read().toPandas()
        .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    assert dict(applier.target.read().dtypes)["score"] == "bigint"
    assert pre_compact.equals(post)


def _jobs_in_group(spark, group, fn):
    """Run ``fn`` under Spark job group ``group``; return (fn's result,
    number of Spark jobs it started)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job-start events reach the status store through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_streaming_chunk_commit_starts_only_winner_write_jobs(spark, tmp_path):
    """A streaming-style chunk commit (``apply_chunk(epoch=e)`` then
    ``maybe_compact``) starts only the winner write's Spark jobs: its
    lineage and metrics rows are written driver-side. WAP publish and
    abandon start none. Counted jobs, not timings: host noise cannot
    move this guard."""
    src = str(tmp_path / "changes.parquet")
    generate_changes(
        spark, 1500, n_convs=80, max_turns=10, seed=5
    ).write.parquet(src)
    changes = spark.read.parquet(src)
    applier = CdcApplier.bootstrap(spark, str(tmp_path / "lake"), bucket_count=8)
    chunk = changes.where(F.col("lsn") < 1000)

    def commit():
        st = applier.apply_chunk(chunk, lo=-1, hi=None, batch_id=0, epoch=0)
        applier.maybe_compact()
        return st

    stats, n_jobs = _jobs_in_group(spark, "chunk-commit", commit)
    assert not stats.skipped and stats.n_quarantined == 0
    # the winner write: shuffle map stage + bucket-clustered parquet write
    assert n_jobs == 2, n_jobs
    lin = applier.lineage.read().where("batch_id = 0").collect()
    assert sorted(r["source_partition"] for r in lin) == stats.affected_buckets
    assert all(r["status"] == "ok" for r in lin)
    met = applier.metrics.read().where("batch_id = 0").collect()
    assert [(r["epoch"], r["n_events"]) for r in met] == [(0, stats.n_events)]

    rest = changes.where(F.col("lsn") >= 1000)
    applier.stage_chunk(rest, "w1", epoch=1, batch_id=1)
    _, n_pub = _jobs_in_group(
        spark, "publish", lambda: applier.publish_chunk("w1")
    )
    applier.stage_chunk(rest, "w2", epoch=2, batch_id=2)
    _, n_abandon = _jobs_in_group(
        spark, "abandon", lambda: applier.abandon_chunk("w2")
    )
    assert (n_pub, n_abandon) == (0, 0)
    status = {
        r["batch_id"]: r["status"]
        for r in applier.lineage.read().where("batch_id > 0").collect()
    }
    assert status == {1: "wap_published", 2: "wap_abandoned"}
