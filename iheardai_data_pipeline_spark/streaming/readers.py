"""Streaming sources (SURVEY §2.1 S3-S8 streaming analogs).

Kafka is the reference's backbone (3 topics, manual commit, <=100
records/poll — enhanced_kpi_consumer.py:86-101,320-342). The Spark
restatement is one readStream over the subscribed topics with
``maxOffsetsPerTrigger`` as the batch-size knob and the engine
checkpoint as the commit. The Kafka connector jar may be absent in
test rigs, so the reader is built lazily; file/rate sources cover
local testing.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# The Kafka source's wire schema (what format("kafka").load() yields) —
# exported so parse-path parity tests can replay identical traffic
# through a jar-free stream (file/memory) and exercise everything but
# the socket (tests/test_kafka_parse_parity.py).
KAFKA_WIRE_SCHEMA = StructType(
    [
        StructField("key", BinaryType()),
        StructField("value", BinaryType()),
        StructField("topic", StringType()),
        StructField("partition", IntegerType()),
        StructField("offset", LongType()),
        StructField("timestamp", TimestampType()),
        StructField("timestampType", IntegerType()),
    ]
)


def parse_kafka_records(raw: DataFrame, payload_schema: StructType) -> DataFrame:
    """The reader's ENTIRE parse path, factored out of the source so it
    is testable without the connector jar: declared-schema JSON parse
    (no inference — SURVEY §1.4) with the original bytes kept as the
    corrupt-record column (``data`` comes back NULL for unparseable
    payloads; ``raw_value`` always preserves what arrived, the
    log-and-skip contract of the reference consumer's error path,
    enhanced_kpi_consumer.py:320-342). Works identically on a batch
    frame, a file stream, or the real Kafka source — the only thing a
    broker adds is the socket."""
    return raw.select(
        F.col("key").cast("string").alias("key"),
        F.col("topic"),
        F.col("timestamp").alias("kafka_ts"),
        F.from_json(F.col("value").cast("string"), payload_schema).alias("data"),
        F.col("value").cast("string").alias("raw_value"),
    )


def read_kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topics: tuple[str, ...],
    payload_schema: StructType,
    max_offsets_per_trigger: int = 100,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """S7: subscribe N topics, parse JSON payloads against the declared
    schema with a corrupt-record column (no inference — SURVEY §1.4).

    T1/T2 mapping: poll cadence -> trigger interval (set on the writer);
    <=100 records/poll -> maxOffsetsPerTrigger; manual commit ->
    checkpointLocation (exactly-once into idempotent sinks).
    """
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", ",".join(topics))
        .option("startingOffsets", starting_offsets)
        .option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
        .load()
    )
    return parse_kafka_records(raw, payload_schema)


def read_file_stream(
    spark: SparkSession,
    path: str,
    schema: StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-based stream (local test analog of the REST-poll sources
    S3/S6: each new file is a poll batch)."""
    reader = spark.readStream.schema(schema).format(fmt)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


def read_table_stream(
    spark: SparkSession, sf_dir: str, table: str, schema: StructType
) -> DataFrame:
    """Stream one table of an sf dir (``<sf_dir>/<table>.parquet``)
    through the file source with its declared ``schema``. The file
    source wants a directory, so this streams the sf dir with a glob
    filter that selects just the table's file."""
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", f"{table}.parquet")
        .parquet(sf_dir)
    )


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream the driver's events table through the file source, with the
    same timestamp normalization as the batch loader (ns->us flooring,
    NTZ->TIMESTAMP so watermarks and window aggs accept the column)."""
    from iheardai_data_pipeline_spark.sources.batch import _set_read_confs

    _set_read_confs(spark)
    path = os.path.join(sf_dir, "events.parquet")
    schema = spark.read.parquet(path).schema
    # streaming rejects NTZ event-time columns; force plain TIMESTAMP in the
    # declared schema (stored micros are read as the instant, UTC zone)
    from pyspark.sql.types import StructField, TimestampNTZType, TimestampType

    schema = StructType(
        [
            StructField(f.name, TimestampType() if isinstance(f.dataType, TimestampNTZType) else f.dataType, f.nullable)
            for f in schema.fields
        ]
    )
    stream = read_table_stream(spark, sf_dir, "events", schema)
    if dict(stream.dtypes).get("ts") == "bigint":
        from iheardai_data_pipeline_spark.sources.batch import (
            bigint_epoch_to_ts,
            infer_epoch_unit,
        )

        # streams can't run an agg up front; infer the unit from a batch
        # read of the same file (parquet-stats max, nearly free)
        max_val = spark.read.parquet(path).agg(F.max("ts")).collect()[0][0]
        stream = stream.withColumn("ts", bigint_epoch_to_ts("ts", infer_epoch_unit(max_val)))
    return stream
