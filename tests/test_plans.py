"""Physical-plan contracts: the optimizations SURVEY.md §4 promises must
actually appear in the executed plans, not just in prose.

Each test renders the formatted/optimized plan of a registry query or engine
op and asserts the load-bearing physical property — filter pushed to the
parquet scan, column-pruned ReadSchema, broadcast join for dim tables,
partial (map-side) aggregation for LWW dedup, no shuffle where none is
needed. A regression that silently de-optimizes a plan fails here even
though results stay correct.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from data_services_spark.queries import REGISTRY

SF_DIR = "/root/testdata/sf0.001"


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_and_projection_pushed_to_scan(spark):
    df = REGISTRY["predicate_pushdown_projection"].fn(spark, SF_DIR)
    plan = _formatted(df)
    assert "PushedFilters: [" in plan
    # at least one real pushed predicate, not an empty list
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and m.group(1).strip(), plan
    # column pruning: the scan must not read the full lineitem schema
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m is not None
    read_cols = [c.split(":")[0] for c in m.group(1).split(",") if c]
    assert len(read_cols) <= 4, f"scan reads too many columns: {read_cols}"


def test_broadcast_join_for_dim_tables(spark):
    df = REGISTRY["broadcast_vocab_join"].fn(spark, SF_DIR)
    plan = _formatted(df)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_lww_dedup_is_partial_aggregation(spark):
    """max_by dedup must plan as HashAggregate partial+final (map-side
    combine collapses duplicate deliveries BEFORE the shuffle) — and must
    not introduce a Sort (the window variant would)."""
    df = REGISTRY["cdc_lww_apply"].fn(spark, SF_DIR)
    plan = _formatted(df)
    # struct-ordered max_by plans as SortAggregate (struct agg buffers are
    # not hash-aggregable) — what matters is the partial phase: duplicate
    # deliveries must collapse BEFORE the shuffle...
    assert "partial_max_by" in plan
    # ...and one shuffle total: the hash exchange on the dedup keys
    # (formatted output names each node twice: tree line + detail section)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "hashpartitioning(conv_id" in plan


def test_q1_aggregate_pushdown_shape(spark):
    """TPC-H q1 shape: one scan, filter pushed, two-phase aggregate, no
    join, exactly one exchange (the groupBy shuffle)."""
    df = REGISTRY["q1_pricing_summary"].fn(spark, SF_DIR)
    plan = _formatted(df)
    assert "PushedFilters: [" in plan
    assert "Join" not in plan
    # one shuffle for the agg + (possibly) one for the final orderBy
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2


def test_whole_stage_codegen_on_hot_path(spark):
    """simple-mode explain marks WholeStageCodegen stages with ``*(n)`` —
    the whole agg pipeline must be inside codegen stages."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = REGISTRY["q1_pricing_summary"].fn(spark, SF_DIR)
        simple = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "simple"
        )
        # AQE hides codegen stages until runtime; with it off the static
        # plan must show the starred codegen stages directly
        assert "*(" in simple, simple
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_semi_anti_join_strategies(spark):
    for name in ("semi_join_active_customers", "anti_join_inactive_customers"):
        plan = _formatted(REGISTRY[name].fn(spark, SF_DIR))
        assert "Semi" in plan or "Anti" in plan, f"{name}: {plan[:500]}"


def test_mor_read_prunes_clean_buckets(spark, tmp_path):
    """A MOR read where only some buckets carry deltas must plan the LWW
    merge ONLY over those buckets; delta-free buckets stay a plain scan
    (no aggregate on their branch)."""
    from data_services_spark.cdc.apply import CdcApplier
    from data_services_spark.cdc.generator import generate_changes

    applier = CdcApplier.bootstrap(spark, str(tmp_path / "lake"), bucket_count=8)
    base = generate_changes(spark, 4000, n_convs=200, max_turns=10, seed=7)
    applier.replay(base, chunk_size=4000)
    applier.target.compact()  # fold the bootstrap chunk into base files
    # second chunk touching ONE conversation -> one bucket gains a delta
    delta = base.where(F.col("conv_id") == base.select("conv_id").first()[0]) \
                .withColumn("lsn", F.col("lsn") + 10_000)
    applier.replay(delta, chunk_size=100_000)

    snap = applier.target.snapshot()
    assert 0 < len(snap.delta_buckets()) < applier.target.bucket_count
    plan = _formatted(applier.target.read())
    # the union of (merged delta-bearing buckets) and (plain clean buckets):
    # clean-branch scan exists and the aggregate count is bounded by the
    # delta-bearing branch only
    assert "Union" in plan


def test_mor_read_fold_is_partial_max_by_single_exchange(spark, tmp_path):
    """``read()`` over delta-bearing buckets resolves LWW through the same
    ``lww_dedup`` plan as the chunk dedup: a partial (map-side) max_by
    around exactly ONE exchange, no window."""
    from data_services_spark.cdc.apply import CdcApplier
    from data_services_spark.cdc.generator import generate_changes

    applier = CdcApplier.bootstrap(
        spark, str(tmp_path / "lake"), bucket_count=4, compact_threshold=None,
    )
    applier.replay(
        generate_changes(spark, 2000, n_convs=50, max_turns=10, seed=3),
        chunk_size=1000,
    )
    assert applier.target.snapshot().delta_buckets()
    plan = _formatted(applier.target.read())
    assert "partial_max_by" in plan
    assert "Window" not in plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1, plan


def test_snapshot_diff_lsn_no_single_partition_exchange(spark):
    """snapshot_diff's LSN assignment must never plan a single-partition
    exchange (the global-window sort would); LSNs stay dense, unique, and
    globally ordered by key."""
    from data_services_spark.sources.change_capture import snapshot_diff

    prev = spark.range(0, 500).select(
        F.col("id").alias("k"),
        (F.col("id") * 2).alias("v"),
        F.to_timestamp(F.lit("2024-01-01")).alias("ts"),
    )
    cur = spark.range(100, 650).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 7 == 0, F.col("id") * 3).otherwise(F.col("id") * 2).alias("v"),
        F.to_timestamp(F.lit("2024-01-02")).alias("ts"),
    )
    diff = snapshot_diff(prev, cur, keys=["k"], lsn_start=1000)
    plan = _formatted(diff)
    assert "SinglePartition" not in plan, plan
    rows = sorted(diff.collect(), key=lambda r: r["lsn"])
    lsns = [r["lsn"] for r in rows]
    assert lsns == list(range(1000, 1000 + len(rows)))  # dense from lsn_start
    keys_in_lsn_order = [r["k"] for r in rows]
    assert keys_in_lsn_order == sorted(keys_in_lsn_order)  # key-ordered


def test_ann_topk_exactly_two_exchanges(spark):
    """The fused ANN plan is TWO shuffles end to end: repartition(tbl,bkt)
    before the bucket-local partial top-k and repartition(query_id) before
    the streaming merge. A third Exchange means someone reintroduced the
    r2 join/window shape (5 shuffles)."""
    from data_services_spark.operators.similarity import lsh_ann_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    df = lsh_ann_topk(emb, k=3, n_planes=4, n_tables=2, dim=64)
    plan = _formatted(df)
    # formatted plans print every node twice (tree line + detail header);
    # count only the numbered detail headers
    n_exchanges = len(re.findall(r"\(\d+\) Exchange\b", plan))
    assert n_exchanges == 2, f"{n_exchanges} exchanges:\n{plan}"
    assert "Window" not in plan, plan
    assert "Join" not in plan, plan


def test_cc_iteration_plan_stays_flat(spark):
    """connected_components must cut lineage every round: after N rounds
    the current edge frame's plan is a scan of the checkpoint, not an
    N-deep tower of aggregations (the iterative-Catalyst trap)."""
    from data_services_spark.operators.clustering import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "src long, dst long"
    )
    out = connected_components(edges, max_iter=15)
    plan = _formatted(out)
    # the result plan reads checkpointed RDDs; the per-round groupBys from
    # earlier iterations must NOT accumulate in it (count detail headers —
    # formatted plans print every node twice)
    n_aggs = len(re.findall(r"\(\d+\) HashAggregate\b", plan))
    assert n_aggs <= 4, plan
    assert "Scan ExistingRDD" in plan, plan  # reads the checkpoint


def test_chunked_batching_no_single_partition_exchange(spark):
    """The registry's manifest-chunking query computes its global row
    number via the distributed range-partition plan — there must be no
    single-partition exchange anywhere in the registry."""
    from data_services_spark.queries import REGISTRY

    df = REGISTRY["chunked_batching"].fn(spark, "/root/testdata/sf0.001")
    plan = _formatted(df)
    assert "SinglePartition" not in plan, plan


def test_patch_fold_single_exchange_partial_agg(spark, tmp_path):
    """The partial-update read fold is ONE aggregation around ONE exchange
    with a partial (map-side) phase — a window or a second shuffle here
    means someone reintroduced the horizon materialization U-dominance
    makes unnecessary."""
    import datetime as dt

    from data_services_spark.cdc.apply import CdcApplier
    from data_services_spark.cdc.schemas import CHANGES_SCHEMA

    applier = CdcApplier.bootstrap(
        spark, str(tmp_path / "lake"), bucket_count=4,
        target_props={"merge_engine": "partial_update"},
    )
    E = dt.datetime(2024, 1, 1)
    rows = [(i, "P" if i % 3 else "U", E + dt.timedelta(minutes=i),
             f"c{i % 6}", 0, "user", f"t{i}", None) for i in range(24)]
    applier.replay(spark.createDataFrame(rows, CHANGES_SCHEMA), chunk_size=100)
    plan = _formatted(applier.target.read())
    assert "Window" not in plan
    n_exchanges = len(re.findall(r"\(\d+\) Exchange\b", plan))
    assert n_exchanges == 1, plan
    assert "partial_max" in plan  # map-side combine on the fold


def test_patch_apply_chunk_is_map_only_before_write(spark, tmp_path):
    """The patch chunk builder adds NO exchange of its own: the write's
    bucket-clustering repartition is the chunk's only shuffle (the
    windowed variant measured ~1/6 of LWW throughput)."""
    import datetime as dt

    from data_services_spark.cdc.apply import CdcApplier
    from data_services_spark.cdc.schemas import CHANGES_SCHEMA

    applier = CdcApplier.bootstrap(
        spark, str(tmp_path / "lake"), bucket_count=4,
        target_props={"merge_engine": "partial_update"},
    )
    E = dt.datetime(2024, 1, 1)
    rows = [(i, "P" if i % 3 else "U", E + dt.timedelta(minutes=i),
             f"c{i % 6}", 0, "user", f"t{i}", None) for i in range(24)]
    df = spark.createDataFrame(rows, CHANGES_SCHEMA)
    chunk_rows = applier._chunk_rows(df)
    plan = _formatted(chunk_rows)
    assert "Exchange" not in plan and "Window" not in plan, plan


def test_scd2_batch_single_exchange_shared_window(spark):
    """scd2_history: one key shuffle; both lead() calls share one Window
    frame (no second sort, no self-join)."""
    df = REGISTRY["scd2_transcript_history"].fn(spark, SF_DIR)
    plan = _formatted(df)
    n_exchanges = len(re.findall(r"\(\d+\) Exchange\b", plan))
    assert n_exchanges == 1, plan
    n_windows = len(re.findall(r"\(\d+\) Window\b", plan))
    assert n_windows == 1, plan
    assert "Join" not in plan
