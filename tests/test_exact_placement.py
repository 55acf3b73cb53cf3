"""Exact bucket->task placement for bucketed writes and local compaction.

Hash-repartitioning n distinct bucket ids into n partitions is
balls-in-bins: the fullest task carries 3-4 buckets while ~1/e of the
slots run empty — invisible at 1 core, a straggler tax on the N->4N
scaling pair. The preimage routing (_exact_partition_salt) and the
one-slice-per-bucket parallelize in the local rewrite remove it; these
tests pin the mechanism so a Spark-internal hashing change can never
silently reintroduce the skew."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_services_spark.lake.table import (
    _exact_partition_salt,
    _murmur3_int,
    _partition_preimages,
)


def test_murmur3_matches_spark_hash(spark):
    vals = [0, 1, 2, 5, 63, 100, 4095, 123456789]
    row = spark.range(1).select(
        *[F.hash(F.lit(v).cast("int")).alias(f"h{i}") for i, v in enumerate(vals)]
    ).collect()[0]
    for i, v in enumerate(vals):
        assert row[f"h{i}"] == _murmur3_int(v), v


def test_preimages_cover_every_partition():
    for n in (4, 16, 64, 257):
        pre = _partition_preimages(n)
        assert len(pre) == n
        assert sorted(_murmur3_int(x) % n for x in pre) == list(range(n))


def test_exact_salt_places_one_bucket_per_partition(spark):
    n = 32
    df = spark.range(0, 8000).select(
        (F.col("id") % n).cast("int").alias("bucket"), F.col("id")
    )
    placed = (
        df.repartition(n, _exact_partition_salt(F.col("bucket"), n))
        .withColumn("pid", F.spark_partition_id())
    )
    stats = placed.groupBy("pid").agg(
        F.countDistinct("bucket").alias("n_buckets")
    ).collect()
    # every one of the n partitions holds exactly one bucket
    assert len(stats) == n
    assert all(r["n_buckets"] == 1 for r in stats)
    # and bucket b really lands in partition b
    mapping = placed.select("bucket", "pid").distinct().collect()
    assert all(r["bucket"] == r["pid"] for r in mapping)


def test_write_path_one_file_per_bucket(spark, tmp_path):
    from pyspark.sql import types as T

    from data_services_spark.lake.table import LakeTable

    schema = T.StructType(
        [
            T.StructField("k", T.StringType(), False),
            T.StructField("v", T.LongType(), True),
        ]
    )
    t = LakeTable.create(
        spark, str(tmp_path / "t"), schema, ["k"], bucket_count=16
    )
    df = spark.range(0, 5000).select(
        F.format_string("k%05d", "id").alias("k"), F.col("id").alias("v")
    )
    t.append(df)
    snap = t.snapshot()
    files = [f for fs in snap.bucket_files.values() for f in fs]
    assert len(snap.bucket_files) == 16
    assert len(files) == 16  # exactly one file per bucket, no task split any
    assert t.read().count() == 5000


# ------------------------------------------------ the full Murmur3 port
_CHARS = ["a", "Z", "0", " ", "\x00", "é", "ß", "ÿ", "Ω", "日", "本", "€",
          "\U0001F600", "\U00010348"]  # 1-, 2-, 3- and 4-byte UTF-8
_INT_EDGES = [0, 1, -1, 42, 2**31 - 1, -2**31, 2**15, -2**15 - 1]
_LONG_EDGES = [0, 1, -1, 2**31 - 1, -2**31, 2**31, -2**31 - 1, 2**32,
               2**63 - 1, -2**63]


def test_murmur3_port_matches_spark_hash_on_random_rows(spark):
    """``_murmur3`` equals ``F.hash`` on strings of 0-13 characters (up to
    4-byte UTF-8), int and long extremes, NULLs, and chains of 1-3
    columns of mixed types."""
    import random

    from pyspark.sql import types as T

    from data_services_spark.lake.table import _murmur3

    rng = random.Random(20240917)

    def text():
        return "".join(rng.choice(_CHARS) for _ in range(rng.randint(0, 13)))

    def pick(edges, lo, hi):
        return rng.choice(edges) if rng.random() < 0.5 else rng.randint(lo, hi)

    gens = {
        "s": (T.StringType(), text),
        "i": (T.IntegerType(), lambda: pick(_INT_EDGES, -2**31, 2**31 - 1)),
        "l": (T.LongType(), lambda: pick(_LONG_EDGES, -2**63, 2**63 - 1)),
    }
    names = ["s", "i", "l", "s2", "i2", "l2"]
    schema = T.StructType(
        [T.StructField(n, gens[n[0]][0], True) for n in names])
    rows = [
        tuple(None if rng.random() < 0.15 else gens[n[0]][1]() for n in names)
        for _ in range(400)
    ]
    rows += [("", 0, 0, None, None, None), (None,) * 6]
    chains = [["s"], ["i"], ["l"]] + [
        rng.sample(names, rng.randint(1, 3)) for _ in range(12)
    ]
    df = spark.createDataFrame(rows, schema)
    got = df.select(
        *names, *[F.hash(*c).alias(f"h{j}") for j, c in enumerate(chains)]
    ).collect()
    for r in got:
        for j, c in enumerate(chains):
            want = r[f"h{j}"]
            assert _murmur3([r[n] for n in c], [schema[n].dataType for n in c]) \
                == want, (c, [r[n] for n in c])


def test_append_rows_lands_string_int_keys_in_their_bucket(spark, tmp_path):
    """``append_rows`` on a ``(conv_id string, turn_idx int)`` table puts
    every row in the bucket ``_bucket_expr`` gives it."""
    from pyspark.sql import types as T

    from data_services_spark.lake.table import LakeTable, _bucket_expr

    schema = T.StructType([
        T.StructField("conv_id", T.StringType(), True),
        T.StructField("turn_idx", T.IntegerType(), True),
        T.StructField("n", T.LongType(), True),
    ])
    t = LakeTable.create(spark, str(tmp_path / "t"), schema,
                         ["conv_id", "turn_idx"], bucket_count=16)
    rows = [{"conv_id": c, "turn_idx": i, "n": j}
            for j, (c, i) in enumerate(
                [(f"u{c:04d}", i) for c in range(30) for i in range(4)]
                + [("ünï", 7), ("日本😀", -1), (None, 3), ("z", None)])]
    t.append_rows(rows)
    snap = t.snapshot()
    placed = {}
    for b, files in snap.bucket_files.items():
        part = spark.read.parquet(*[str(tmp_path / "t" / f) for f in files])
        for r in part.select(
            "n", _bucket_expr(["conv_id", "turn_idx"], 16).alias("b")
        ).collect():
            assert r.b == int(b), (r.n, r.b, b)
            placed[r.n] = r.b
    assert sorted(placed) == list(range(len(rows)))
    assert len(set(placed.values())) > 8  # the rows spread over the buckets
