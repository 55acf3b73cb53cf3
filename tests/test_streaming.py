"""Structured Streaming apply: exactly-once across micro-batches and query
restarts, windowed rates, custom stateful turn tracker."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_services_spark.cdc.apply import CdcApplier
from data_services_spark.cdc.generator import generate_changes
from data_services_spark.cdc.oracle import expected_final_state, table_state_matches
from data_services_spark.streaming.stream_apply import (
    conversation_turn_tracker,
    start_apply_stream,
    stream_changes,
    windowed_event_rates,
)


def _write_stream_files(spark, path: str, n_files: int = 4, events_per_file: int = 1500):
    """Change stream as successive files (a tailed directory), lsn-ordered
    across files like a real binlog segment directory."""
    full = generate_changes(
        spark, n_files * events_per_file, n_convs=120, max_turns=12, seed=33
    )
    for i in range(n_files):
        lo, hi = i * events_per_file, (i + 1) * events_per_file
        (full.where((F.col("lsn") >= lo) & (F.col("lsn") < hi))
             .coalesce(1).write.mode("append").parquet(path))
    return full


def test_stream_apply_matches_oracle(spark, tmp_path):
    src = str(tmp_path / "stream_src")
    _write_stream_files(spark, src)
    applier = CdcApplier.bootstrap(spark, str(tmp_path / "lake"), bucket_count=8)

    q = start_apply_stream(
        applier,
        stream_changes(spark, src, max_files_per_trigger=1),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.processAllAvailable()
    q.stop()

    ok, msg = table_state_matches(
        applier.target.read().toPandas(), expected_final_state(src)
    )
    assert ok, msg
    assert applier.target.snapshot().summary.get("epoch") is not None


def test_stream_restart_no_duplicates(spark, tmp_path):
    """Stop the query mid-stream, restart from the streaming checkpoint with
    more data arriving: final state equals the full oracle (no dupes/gaps)."""
    src = str(tmp_path / "stream_src")
    full = _write_stream_files(spark, src, n_files=2)
    root = str(tmp_path / "lake")
    applier = CdcApplier.bootstrap(spark, root, bucket_count=8)
    ckpt = str(tmp_path / "ckpt")

    q = start_apply_stream(applier, stream_changes(spark, src, 1), ckpt)
    q.processAllAvailable()
    q.stop()
    epoch_after_first = applier.target.snapshot().summary["epoch"]

    # two more files land while the query is down
    more = generate_changes(spark, 6000, n_convs=120, max_turns=12, seed=33)
    for lo, hi in [(3000, 4500), (4500, 6000)]:
        (more.where((F.col("lsn") >= lo) & (F.col("lsn") < hi))
             .coalesce(1).write.mode("append").parquet(src))

    # new process: reload applier from disk, restart query from checkpoint
    applier2 = CdcApplier.load(spark, root)
    q2 = start_apply_stream(applier2, stream_changes(spark, src, 1), ckpt)
    q2.processAllAvailable()
    q2.stop()

    assert applier2.target.snapshot().summary["epoch"] > epoch_after_first
    ok, msg = table_state_matches(
        applier2.target.read().toPandas(), expected_final_state(src)
    )
    assert ok, msg


def test_windowed_event_rates(spark, tmp_path):
    src = str(tmp_path / "stream_src")
    _write_stream_files(spark, src, n_files=2)
    agg = windowed_event_rates(stream_changes(spark, src, 2), "5 minutes", "10 minutes")
    q = (
        agg.writeStream.format("memory").queryName("rates")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_rates"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM rates").collect()
    assert rows
    assert {r["op"] for r in rows} <= {"I", "U", "D"}
    total = spark.sql("SELECT sum(n_events) AS n FROM rates").collect()[0]["n"]
    assert total >= 3000  # all events counted (update mode may re-emit panes)


def test_conversation_turn_tracker(spark, tmp_path):
    src = str(tmp_path / "stream_src")
    full = _write_stream_files(spark, src, n_files=2)
    tracked = conversation_turn_tracker(stream_changes(spark, src, 1))
    q = (
        tracked.writeStream.format("memory").queryName("turns")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_turns"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    # last state per conv: n_turns equals that conv's event count
    final = spark.sql(
        """
        SELECT conv_id, max_by(n_turns, last_lsn) AS n_turns
        FROM turns GROUP BY conv_id
        """
    )
    expected = full.groupBy("conv_id").count()
    joined = final.join(expected, "conv_id")
    mismatched = joined.where(F.col("n_turns") != F.col("count")).count()
    assert mismatched == 0


def test_dedup_redelivered_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark removes redelivered events (same lsn)
    with state bounded by the watermark horizon: the generator re-emits a
    sample of events verbatim; the deduped stream must carry each lsn once."""
    from data_services_spark.streaming.stream_apply import dedup_redelivered

    src = str(tmp_path / "stream_src")
    full = _write_stream_files(spark, src, n_files=3, events_per_file=1000)
    n_unique = full.select("lsn").distinct().count()
    n_total = full.count()
    assert n_total > n_unique  # generator redelivers ~1/20 verbatim

    q = (
        dedup_redelivered(stream_changes(spark, src, max_files_per_trigger=1))
        .writeStream.format("memory")
        .queryName("deduped")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.sql("SELECT count(*) AS n, count(DISTINCT lsn) AS d FROM deduped").collect()[0]
    assert got["d"] == got["n"], "duplicates survived dedup"
    # every unique lsn that has passed the watermark must be present; allow
    # the horizon's tail to still be in state at stop time
    assert got["n"] >= n_unique * 0.9


def test_stream_transform_hook_applies_mapping_and_qc(spark, tmp_path):
    """The foreachBatch transform hook composes the ingest layers: a
    provider-named stream is schema-mapped to canonical names and gains a
    synthesized text_qc flag, per micro-batch, before the LWW apply."""
    from data_services_spark.cdc.mapping import SchemaMapping
    from data_services_spark.cdc.qc import FLAG_GOOD, FLAG_MISSING

    src = str(tmp_path / "stream_src")
    _write_stream_files(spark, src, n_files=2, events_per_file=800)
    applier = CdcApplier.bootstrap(spark, str(tmp_path / "lake"), bucket_count=8)

    mapping = SchemaMapping.from_config(
        # identity renames for the envelope/payload; drop nothing real here —
        # the layer's rename/drop behavior is pinned in test_mapping_qc.py
        {c: c for c in ["lsn", "op", "ts", "conv_id", "turn_idx", "role", "text", "tool"]}
    )

    def ingest(batch_df):
        mapped, _ = mapping.apply(batch_df)
        return mapped.withColumn(
            "text_qc",
            F.when(F.col("text").isNull(), F.lit(FLAG_MISSING))
            .otherwise(F.lit(FLAG_GOOD))
            .cast("int"),
        )

    q = start_apply_stream(
        applier,
        stream_changes(spark, src, max_files_per_trigger=1),
        checkpoint_dir=str(tmp_path / "ckpt"),
        transform=ingest,
    )
    q.processAllAvailable()
    q.stop()

    table = applier.target.read()
    assert "text_qc" in table.columns
    assert table.where(F.col("text_qc").isNull()).count() == 0
    bad = table.where(
        ((F.col("text_qc") == FLAG_GOOD) & F.col("text").isNull())
        | ((F.col("text_qc") == FLAG_MISSING) & F.col("text").isNotNull())
    )
    assert bad.count() == 0


def test_streaming_view_refresh_per_microbatch(spark, tmp_path):
    """Views attached to the stream refresh after every micro-batch: the
    mart lags the table by at most one batch and ends exactly equal to a
    from-scratch recompute (SUM + retraction-hard MIN/MAX included)."""
    from data_services_spark.operators.incremental_view import IncrementalAggView

    src = str(tmp_path / "stream_src")
    _write_stream_files(spark, src, n_files=3)
    applier = CdcApplier.bootstrap(spark, str(tmp_path / "lake"), bucket_count=8)
    view = IncrementalAggView.create(
        spark, str(tmp_path / "view"), applier.target, ["role"],
        ["turn_idx"], minmax_cols=["ts"],
    )

    q = start_apply_stream(
        applier,
        stream_changes(spark, src, max_files_per_trigger=1),
        checkpoint_dir=str(tmp_path / "ckpt"),
        views=[view],
    )
    q.processAllAvailable()
    q.stop()

    # view advanced with the stream (not one terminal refresh)
    assert view.last_source_snapshot() == applier.target.current_snapshot_id()
    got = {
        (r.role, r.n_rows, r.sum_turn_idx, r.min_ts, r.max_ts)
        for r in view.read().collect()
    }
    want = {
        tuple(r)
        for r in applier.target.read().groupBy("role").agg(
            F.count("*").alias("n_rows"),
            F.sum("turn_idx").cast("long").alias("sum_turn_idx"),
            F.min("ts").alias("min_ts"),
            F.max("ts").alias("max_ts"),
        ).collect()
    }
    assert got == want


def test_stream_restart_with_evolved_schema(spark, tmp_path):
    """Upstream schema evolution across stream redeploys — the standard
    Debezium/Kafka procedure (a streaming file source fixes its schema per
    query RUN, so evolution = stop, redeploy with the widened schema, same
    checkpoint): run 1 applies the base shape; new files land with an extra
    int32 'score' column and run 2 redeploys with it; later files carry
    score as int64 above 2^35 and run 3 redeploys with the widened schema
    (run-2's narrow parquet pages upcast under the long read schema). The
    final table has the evolved bigint column, pre-evolution winners read
    it as null, both eras' values are exact, and the three runs share one
    streaming checkpoint with no duplicates or gaps."""
    from pyspark.sql import types as T

    from data_services_spark.cdc.schemas import CHANGES_SCHEMA

    src = str(tmp_path / "stream_src")
    root = str(tmp_path / "lake")
    ckpt = str(tmp_path / "ckpt")
    _write_stream_files(spark, src, n_files=2)  # lsn 0..3000, base schema
    full = generate_changes(spark, 9000, n_convs=120, max_turns=12, seed=33)

    applier = CdcApplier.bootstrap(spark, root, bucket_count=8)
    q = start_apply_stream(applier, stream_changes(spark, src, 1), ckpt)
    q.processAllAvailable()
    q.stop()
    assert "score" not in dict(applier.target.read().dtypes)

    # era 2: upstream adds score int32; files land while the query is down
    (full.where((F.col("lsn") >= 3000) & (F.col("lsn") < 6000))
         .withColumn("score", F.pmod("lsn", F.lit(1000)).cast("int"))
         .coalesce(1).write.mode("append").parquet(src))
    with_int = T.StructType(
        CHANGES_SCHEMA.fields + [T.StructField("score", T.IntegerType(), True)]
    )
    applier = CdcApplier.load(spark, root)
    q = start_apply_stream(
        applier, stream_changes(spark, src, 1, schema=with_int), ckpt
    )
    q.processAllAvailable()
    q.stop()
    assert dict(applier.target.read().dtypes)["score"] == "int"

    # era 3: upstream widens score to int64 (values above 2^35)
    (full.where(F.col("lsn") >= 6000)
         .withColumn("score", (F.pmod("lsn", F.lit(1000)) + F.lit(1 << 35)).cast("long"))
         .coalesce(1).write.mode("append").parquet(src))
    with_long = T.StructType(
        CHANGES_SCHEMA.fields + [T.StructField("score", T.LongType(), True)]
    )
    applier = CdcApplier.load(spark, root)
    q = start_apply_stream(
        applier, stream_changes(spark, src, 1, schema=with_long), ckpt
    )
    q.processAllAvailable()
    q.stop()

    got = applier.target.read()
    assert dict(got.dtypes)["score"] == "bigint"
    ok, msg = table_state_matches(
        got.toPandas(), expected_final_state(src, extra_cols=["score"])
    )
    assert ok, msg
    # era attribution is exact: pre-evolution winners null, each era's values
    assert got.where("lsn < 3000").where(F.col("score").isNotNull()).count() == 0
    assert (
        got.where("lsn >= 6000")
        .where(F.col("score") != F.pmod("lsn", F.lit(1000)) + F.lit(1 << 35))
        .count()
        == 0
    )
    assert (
        got.where("lsn >= 3000 AND lsn < 6000")
        .where(F.col("score") != F.pmod("lsn", F.lit(1000)))
        .count()
        == 0
    )


def test_stream_job_bad_source_args_exit_before_touching_disk(tmp_path):
    """Neither or both of --source-dir / --bus-transport is a usage error
    (exit 2) raised before any session or table exists: --root stays
    absent."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "PYTHONPATH": repo}
    for extra in ([], ["--source-dir", str(tmp_path / "src"),
                       "--bus-transport", "file"]):
        root = tmp_path / "lake"
        proc = subprocess.run(
            [sys.executable, "-m", "data_services_spark.jobs.stream_job",
             "--root", str(root), "--checkpoint", str(tmp_path / "ckpt"),
             *extra],
            cwd=repo, env=env, capture_output=True, text=True, timeout=300,
        )
        assert proc.returncode == 2, proc.stderr[-2000:]
        assert "exactly one of --source-dir or --bus-transport" in proc.stderr
        assert not root.exists()
