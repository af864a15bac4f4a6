"""Kafka source/sink builders — S6-S9 from SURVEY.md §2.1.

Option-complete translations of the reference's producer/consumer
tuning into Spark's ``kafka.*`` pass-through options:

* producer (S6/S8/S9): acks=1, gzip, batch.size 16384, linger 10 ms,
  5 in-flight (reference producer/video_producer.py:57-67,
  streams/stream.py:85-95; rationale docs/PERFORMANCE.md:40-49);
* consumer (S7): earliest offsets, fetch.min.bytes 32768,
  fetch.max.wait 500 ms, 10 MB/partition
  (streams/stream.py:58-83; docs/PERFORMANCE.md:51-58).

The reference's offset-commit cadence (W6, stream.py:462-497) and
idle-poll loop (W7) have NO translated code: Structured Streaming
checkpointing subsumes both (`checkpointLocation` + trigger).

These builders are lazy; no broker is contacted until a query starts
or a batch is published, so they are unit-testable option-wise (the
container has no Kafka).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamReader

# topic layout: config.py:14-16 + scripts/setup_kafka_topics.sh
FRAMES_TOPIC = "video-frames"         # 6 partitions
DETECTIONS_TOPIC = "fire-detections"  # 6 partitions
COMPLETIONS_TOPIC = "video-completions"  # 3 partitions

PRODUCER_OPTIONS = {
    # producer/video_producer.py:57-67 — throughput knobs
    "kafka.acks": "1",
    "kafka.compression.type": "gzip",
    "kafka.batch.size": "16384",
    "kafka.linger.ms": "10",
    "kafka.max.in.flight.requests.per.connection": "5",
}

CONSUMER_OPTIONS = {
    # streams/stream.py:79-82 — fetch tuning
    "kafka.fetch.min.bytes": "32768",
    "kafka.fetch.max.wait.ms": "500",
    "kafka.max.partition.fetch.bytes": str(10 * 1024 * 1024),
    "startingOffsets": "earliest",
    # max_poll_records=300 analog: bound each micro-batch
    "maxOffsetsPerTrigger": "1800",  # 300 × 6 partitions
}


def frames_source(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str = FRAMES_TOPIC,
    extra_options: dict[str, str] | None = None,
) -> DataStreamReader:
    """S7 — the frames Kafka source, fetch-tuned like the reference."""
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
    )
    for k, v in {**CONSUMER_OPTIONS, **(extra_options or {})}.items():
        reader = reader.option(k, v)
    return reader


def kafka_key_value(df: DataFrame, key_col: str, value_col: str) -> DataFrame:
    """The exact record shape every keyed sink sends: utf-8 key (the
    video_id — per-video ordering within a partition, reference
    producer/video_producer.py:126-133) + string value.  Split out so
    broker-less e2e tests drive the identical projection into a memory
    sink (the sandbox has no Kafka broker)."""
    return df.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(value_col).cast("string").alias("value"),
    )


def kafka_publisher(bootstrap_servers: str) -> Callable[[DataFrame, str], None]:
    """S6/S8/S9 — ``publish(records, topic)``: one batch Kafka write of
    `kafka_key_value` records with the reference's producer knobs, the
    publisher `streaming.pipeline.fire_detection_query` calls from its
    foreachBatch for each batch's detections and completions.

    Keying by video_id preserves per-video ordering within a partition
    (reference producer/video_producer.py:126-133).  Spark's writer is
    batched by construction — the reference's hand-rolled async sends +
    fire-only callbacks (stream.py:528-545) need no analog.  The
    query's checkpoint replaces the offset-commit cadence (W6); a
    redelivered batch publishes again (at-least-once, like the
    reference)."""

    def publish(records: DataFrame, topic: str) -> None:
        writer = (
            records.write.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap_servers)
            .option("topic", topic)
        )
        for k, v in PRODUCER_OPTIONS.items():
            writer = writer.option(k, v)
        writer.save()

    return publish
