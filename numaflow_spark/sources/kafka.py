"""S3 Kafka source / K3 Kafka sink: thin builders over Spark's built-in
connector, plus the envelope mapping.

Reference: the Kafka source does consumer-group reads with per-partition
offsets, TLS/SASL, and surfaces key/value/headers/timestamp into the
Message envelope (spec kafka_source.go; impl
rust/numaflow-core/src/source/kafka.rs + rust/extns/numaflow-kafka/); the
sink produces value (and optional key) to a topic (kafka_sink.go;
sink/kafka.rs).

Spark realization: ``spark.readStream.format("kafka")`` already provides
exactly the reference's read surface (key, value, topic, partition, offset,
timestamp, headers) with checkpointed offset tracking replacing the
consumer-group ack loop. What this module adds is (a) option builders that
mirror the CRD fields, and (b) :func:`kafka_envelope` — the pure-column
mapping from Kafka's record schema into the Message envelope, which is unit
-testable without a broker. The connector jar
(spark-sql-kafka-0-10) ships separately from pyspark; builders raise a
clear error when it is absent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from numaflow_spark.compiler import start_stream
from numaflow_spark.message import message_id


def kafka_envelope(df: DataFrame, vertex_name: str = "kafka-source") -> DataFrame:
    """Map the Kafka record schema (key binary, value binary, topic,
    partition, offset, timestamp, headers array<struct<key,value binary>>)
    into the Message envelope (§1.4): keys <- [utf8(key)],
    event_time <- record timestamp, headers <- map<string,string>,
    id <- {vertex, topic-partition-offset} (the dedup identity the
    reference builds from the consumer offset)."""
    has_headers = "headers" in df.columns
    headers = (
        F.map_from_entries(
            F.transform(
                F.col("headers"),
                lambda h: F.struct(
                    h["key"].alias("key"), h["value"].cast("string").alias("value")
                ),
            )
        )
        if has_headers
        else F.lit(None).cast(T.MapType(T.StringType(), T.StringType()))
    )
    offset_str = F.concat_ws("-", F.col("topic"), F.col("partition"), F.col("offset"))
    return df.select(
        F.when(F.col("key").isNotNull(), F.array(F.col("key").cast("string")))
        .otherwise(F.lit(None).cast(T.ArrayType(T.StringType())))
        .alias("keys"),
        F.lit(None).cast(T.ArrayType(T.StringType())).alias("tags"),
        F.col("value"),
        F.col("timestamp").alias("event_time"),
        F.lit(None).cast(T.TimestampType()).alias("watermark"),
        message_id(vertex_name, offset_str).alias("id"),
        headers.alias("headers"),
        F.lit(False).alias("is_late"),
        F.col("offset"),
        F.col("partition"),
    )


def kafka_source(
    spark: SparkSession,
    brokers: str,
    topics: str,
    *,
    starting_offsets: str = "latest",
    group_id_prefix: str | None = None,
    max_offsets_per_trigger: int | None = None,
    include_headers: bool = True,
    vertex_name: str = "kafka-source",
    extra_options: dict[str, str] | None = None,
) -> DataFrame:
    """Streaming Kafka read in the Message envelope. Options mirror
    kafka_source.go: brokers, topic, consumerGroup; the rate limit maps to
    maxOffsetsPerTrigger (W7)."""
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topics)
        .option("startingOffsets", starting_offsets)
        .option("includeHeaders", str(include_headers).lower())
    )
    if group_id_prefix:
        reader = reader.option("groupIdPrefix", group_id_prefix)
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    for k, v in (extra_options or {}).items():
        reader = reader.option(k, v)
    try:
        raw = reader.load()
    except Exception as e:  # pragma: no cover - env-dependent
        raise RuntimeError(
            "Kafka connector unavailable — add the spark-sql-kafka-0-10 "
            "package (spark.jars.packages) matching your Spark version"
        ) from e
    return kafka_envelope(raw, vertex_name)


def kafka_sink_writer(
    df: DataFrame,
    brokers: str,
    topic: str,
    *,
    checkpoint: str,
    key_col: str | None = None,
    value_col: str = "value",
    trigger: dict | None = None,
):
    """K3: produce envelope rows to a topic. Key defaults to the first
    entry of ``keys`` (the reference's partition-key behavior); returns the
    StreamingQuery, started by ``compiler.start_stream`` (no key limit on
    the state width)."""
    key = (
        F.col(key_col)
        if key_col
        else F.when(F.col("keys").isNotNull(), F.element_at("keys", 1))
    )
    out = df.select(
        key.cast("string").cast("binary").alias("key"),
        F.col(value_col).cast("binary").alias("value"),
    )
    writer = (
        out.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("topic", topic)
    )
    if trigger:
        writer = writer.trigger(**trigger)
    try:
        return start_stream(df.sparkSession, writer, checkpoint=checkpoint,
                            key_count=None)
    except Exception as e:  # pragma: no cover - env-dependent
        raise RuntimeError(
            "Kafka connector unavailable — add the spark-sql-kafka-0-10 "
            "package (spark.jars.packages) matching your Spark version"
        ) from e
