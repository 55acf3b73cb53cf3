"""Message-bus streaming source adapter — the Kafka slot-in.

A production CDC deployment reads its binlog envelopes off a message bus
(Kafka, Kinesis, Pulsar). This module pins the engine's bus contract to
the Kafka wire shape — ``(key, value, topic, partition, offset,
timestamp)`` — and provides three transports behind one reader:

* ``transport='kafka'``: a passthrough to ``spark.readStream
  .format("kafka")`` projected onto the bus schema. Needs the
  ``spark-sql-kafka-0-10`` package on the cluster (ship with
  ``spark-submit --packages org.apache.spark:spark-sql-kafka-0-10_2.13:
  <spark-version>``); not installable in this container, so it is
  option-wiring only here — everything downstream of the projection is
  transport-independent and proven on the other two.
* ``transport='file'``: tails a directory of JSON-lines *bus archive*
  files, each line one bus record (the shape a MirrorMaker/console-consumer
  dump or S3 Kafka archive carries). The local/test harness, and a real
  replay path for bus archives at rest.
* ``transport='socket'``: Spark's TCP text source, one bus-record JSON per
  line — a live push transport for loopback/e2e testing without a broker.

Everything after ``read_bus`` is identical across transports:
``bus_to_changes`` runs the envelope decoder (Debezium/Maxwell/Canal/DMS/
Mongo — ``sources/envelopes.py``) as pure column expressions, and
``start_bus_apply_stream`` feeds the decoded rows into the exactly-once
``foreachBatch`` apply loop (``stream_apply.start_apply_stream``): epoch
ids ride the lake's atomic snapshot commits, so a redelivered micro-batch
(checkpoint replay, broker rebalance re-read) is a no-op. Partition-skew
note: bus partition count does NOT bound apply parallelism — the apply
path hash-repartitions by the table's bucket keys regardless of how few
bus partitions the stream arrived on, and a hot key's events collapse in
the dedup's map-side partial aggregation before that shuffle.

Reference analogue: the reference's transport layer is cron-driven rsync/
lftp mirrors (``ARGO/rsync.sh:14-43``) — files on disk standing in for a
bus. ``transport='file'`` is exactly that pattern, upgraded to
Structured Streaming offsets + exactly-once apply.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..sources.envelopes import decode_envelope

__all__ = [
    "BUS_SCHEMA", "read_bus", "bus_to_changes", "to_bus_records",
    "write_bus_archive", "start_bus_apply_stream",
]

# The Kafka wire shape (key/value already decoded to strings: CDC envelope
# values are JSON text in every supported dialect).
BUS_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), True),  # null => round-robin
        T.StructField("value", T.StringType(), True),  # null => tombstone
        T.StructField("topic", T.StringType(), True),
        T.StructField("partition", T.IntegerType(), True),
        T.StructField("offset", T.LongType(), True),
        T.StructField("timestamp", T.TimestampType(), True),
    ]
)


def read_bus(
    spark: SparkSession,
    transport: str,
    *,
    path: str | None = None,
    host: str | None = None,
    port: int | None = None,
    topic: str | None = None,
    max_files_per_trigger: int = 8,
    options: dict[str, str] | None = None,
) -> DataFrame:
    """Open a streaming DataFrame of bus records (``BUS_SCHEMA``).

    kafka:  ``options`` carries the Kafka reader options verbatim
            (``kafka.bootstrap.servers`` required; ``subscribe`` defaults
            to ``topic``).
    file:   ``path`` is a directory of JSON-lines bus-archive files.
    socket: ``host``/``port`` of a line-oriented TCP server.
    """
    if transport == "kafka":
        opts = dict(options or {})
        if topic is not None:
            opts.setdefault("subscribe", topic)
        if "kafka.bootstrap.servers" not in opts:
            raise ValueError(
                "transport='kafka' needs options={'kafka.bootstrap.servers': …}"
            )
        reader = spark.readStream.format("kafka")
        for k, v in opts.items():
            reader = reader.option(k, v)
        raw = reader.load()
        return raw.select(
            F.col("key").cast("string").alias("key"),
            F.col("value").cast("string").alias("value"),
            "topic", "partition", "offset", "timestamp",
        )
    if transport == "file":
        if not path:
            raise ValueError("transport='file' needs path=<archive dir>")
        reader = (
            spark.readStream.schema(BUS_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
        )
        for k, v in (options or {}).items():
            reader = reader.option(k, v)
        return reader.json(path)
    if transport == "socket":
        if not host or port is None:
            raise ValueError("transport='socket' needs host= and port=")
        raw = (
            spark.readStream.format("socket")
            .option("host", host)
            .option("port", int(port))
            .load()
        )
        rec = F.from_json(F.col("value"), BUS_SCHEMA)
        return raw.select(
            rec.getField("key").alias("key"),
            rec.getField("value").alias("value"),
            rec.getField("topic").alias("topic"),
            rec.getField("partition").alias("partition"),
            rec.getField("offset").alias("offset"),
            rec.getField("timestamp").alias("timestamp"),
        )
    raise ValueError(
        f"unknown bus transport {transport!r}; one of kafka | file | socket"
    )


def bus_to_changes(
    bus: DataFrame,
    row_schema: T.StructType,
    fmt: str,
    lsn_expr: Column | None = None,
    topic: str | None = None,
) -> DataFrame:
    """Bus records → engine change rows via the dialect decoder. ``topic``
    filters a multi-topic subscription down to one table's stream (the
    multi-table router handles fan-out: ``cdc/router.py``)."""
    if topic is not None:
        bus = bus.where(F.col("topic") == topic)
    return decode_envelope(bus, row_schema, fmt, value_col="value",
                           lsn_expr=lsn_expr)


def to_bus_records(
    changes: DataFrame,
    row_schema: T.StructType,
    topic: str,
    n_partitions: int = 8,
) -> DataFrame:
    """Engine change rows → Debezium-enveloped bus records (``BUS_SCHEMA``)
    — the changelog *producer* side, and the synthesizer for bus-archive
    fixtures. Kafka semantics preserved: key = JSON of the row image's key
    fields is not known here, so the full image keys the message via the
    envelope's own identity; partition = positive hash of ``key`` mod
    ``n_partitions`` (same key → same partition → in-order consumption);
    offset = ``lsn`` (monotonic within the synthesized topic)."""
    img = F.struct(*[F.col(f.name) for f in row_schema.fields])
    env = F.to_json(
        F.struct(
            F.struct(
                F.when(F.col("op") == "D", img).alias("before"),
                F.when(F.col("op") != "D", img).alias("after"),
                F.struct(
                    F.col("lsn").alias("lsn"),
                    F.unix_millis("ts").alias("ts_ms"),
                ).alias("source"),
                F.when(F.col("op") == "I", "c")
                .when(F.col("op") == "U", "u")
                .otherwise("d")
                .alias("op"),
            ).alias("payload")
        )
    )
    key = F.to_json(img)
    return changes.select(
        key.alias("key"),
        env.alias("value"),
        F.lit(topic).alias("topic"),
        F.pmod(F.hash(key), F.lit(n_partitions)).cast("int").alias("partition"),
        F.col("lsn").alias("offset"),
        F.col("ts").alias("timestamp"),
    )


def write_bus_archive(
    changes: DataFrame,
    row_schema: T.StructType,
    path: str,
    topic: str,
    chunks: list[tuple[int, int]] | None = None,
) -> None:
    """Materialize a change stream as a JSON-lines bus archive under
    ``path``, one append per ``(lo, hi)`` lsn chunk so the file transport
    replays it as multiple micro-batches (``maxFilesPerTrigger=1``)."""
    recs = to_bus_records(changes, row_schema, topic)
    for lo, hi in chunks or [(0, 1 << 62)]:
        (
            recs.where((F.col("offset") >= lo) & (F.col("offset") < hi))
            .coalesce(1)
            .write.mode("append")
            .json(path)
        )


def start_bus_apply_stream(
    applier,
    bus: DataFrame,
    row_schema: T.StructType,
    fmt: str,
    checkpoint_dir: str,
    *,
    topic: str | None = None,
    lsn_expr: Column | None = None,
    trigger_seconds: int | None = None,
    views=None,
    audit_suite=None,
) -> StreamingQuery:
    """bus → envelope decode → exactly-once CDC apply, one streaming query.

    The decode is pure column expressions, so it fuses into the micro-batch
    scan stage; the apply side is the same validate/LWW loop the
    batch surface uses, with epoch-id idempotence for redelivery."""
    from .stream_apply import start_apply_stream

    decoded = bus_to_changes(bus, row_schema, fmt, lsn_expr=lsn_expr,
                             topic=topic)
    return start_apply_stream(
        applier,
        decoded,
        checkpoint_dir,
        trigger_seconds=trigger_seconds,
        views=views,
        audit_suite=audit_suite,
    )
