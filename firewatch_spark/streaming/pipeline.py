"""EP2 — the main detection pipeline as ONE Structured Streaming query
(SURVEY.md §3 EP2: readStream → decode → predict → stateful session →
detection and completion events plus the media sinks).

Reference topology (streams/stream.py:444-582): a single consumer loop
doing decode → session bookkeeping → cadence → inference → stats →
sinks per message.  `fire_detection_query` builds the same dataflow as
a declarative query:

    Kafka-shaped (key, value) frame records
      → decode_frame_stream (P1): JSON envelope + base64 payload;
        malformed records → dead-letter stream
      → frame metadata only (the frame bytes are dropped here)
      → stateful_pipeline.fire_detection_stream: cadence (M6) + model +
        LOCF + sessions (W1-W4) in one stateful stage
      → one foreachBatch:
          ├─ 'frame' rows   ──► detection_events (P8) ──► publish (S8)
          │                 ──► media_manifest_sink (S10)
          └─ 'session' rows ──► media_finalize_sink (S10)
                            ──► completion_events_json (S9) ──► publish

Stage boundaries: source tasks → shuffle by video_id (the ONLY wide
exchange, required by per-key state) → stateful stage → sinks.  The
frame binary column is dropped before the shuffle: at 100 TB the
payload never crosses the network — only ids, numbers and strings do.

P8 is projected from the operator's frame rows, so it carries the
cadence and carry-forward: the operator copies each frame's timestamp,
fps, width and height onto that frame's row, and the P7 full-frame box
is built from the row's own (possibly carried-forward) prediction.
One foreachBatch writes every output (as in *Structured Streaming*,
SIGMOD 2018), so the query has one checkpoint and a redelivered batch
re-runs every sink with the same batch id: the media sinks key their
files by batch id and session, so the re-run leaves the same files.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from .. import surrogate
from ..functions.projections import decode_transport
from ..sources.kafka import COMPLETIONS_TOPIC, DETECTIONS_TOPIC, kafka_key_value
from . import sinks
from .stateful_pipeline import DEFAULT_GAP, fire_detection_stream, surrogate_predict_fn

# the producer's frame envelope (reference streams/stream.py:125-137)
ENVELOPE_SCHEMA = (
    "video_id string, frame_number long, timestamp string, fps double,"
    " frame_data string, width int, height int"
)


def decode_frame_stream(kafka_df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """P1 over a Kafka-shaped frame topic: ``value`` is the JSON
    envelope with a base64 payload (reference streams/stream.py:58-68,
    125-137).  Returns ``(good, dead)``.

    §1.3 schema-system upgrade: malformed envelopes are ROUTED to a
    dead-letter stream instead of swallowed.  The reference wraps each
    frame in try/except and drops failures on the floor (reference
    streams/stream.py:421-423); plain ``from_json`` would do the same
    silently (null struct).  PERMISSIVE parsing with
    ``columnNameOfCorruptRecord`` keeps the raw payload of every bad
    record: unparseable JSON and envelopes missing ``video_id`` or
    ``frame_number`` (the stateful operator's key and sequence) land in
    the dead-letter output with a reason — re-playable, countable,
    alertable."""
    parsed = kafka_df.select(
        F.col("value").cast("string").alias("_raw"),
        F.from_json(
            F.col("value").cast("string"),
            ENVELOPE_SCHEMA + ", _corrupt_record string",
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"},
        ).alias("m"),
    )
    is_corrupt = F.col("m._corrupt_record").isNotNull() | F.col("m").isNull()
    missing_key = F.col("m.video_id").isNull()
    missing_seq = F.col("m.frame_number").isNull()
    is_dead = is_corrupt | missing_key | missing_seq
    good = (
        parsed.filter(~is_dead)
        .select("m.*")
        .drop("_corrupt_record")
        .withColumn("frame_data", decode_transport(F.col("frame_data"), "base64-json"))
    )
    dead = parsed.filter(is_dead).select(
        F.col("_raw").alias("raw_value"),
        F.when(is_corrupt, F.lit("malformed_json"))
        .when(missing_key, F.lit("missing_video_id"))
        .otherwise(F.lit("missing_frame_number"))
        .alias("reason"),
    )
    return good, dead


def with_late_policy(
    frames: DataFrame,
    event_time_col: "str | None" = None,
    max_delay: str = "10 seconds",
    dedup_keys: "list[str] | None" = None,
) -> DataFrame:
    """W5 — late/duplicate-data policy, the principled upgrade over the
    reference (documented intentional difference, SURVEY.md §2.5 W5).

    The reference absorbs out-of-order frames inside the 300-frame gap
    and reprocesses duplicates (at-least-once, stream.py:340-349,
    465-489).  Spark gives both knobs properly:

    * ``withWatermark`` bounds how late an event may arrive before the
      engine may drop it — which is also what lets the sessionizer's
      state be reclaimed at 100 TB instead of growing forever;
    * ``dropDuplicates`` on (video_id, frame_number) upgrades delivery
      to effectively-once for the detection math.  With a watermark the
      dedup state is likewise bounded; without one Spark must keep all
      keys (batch mode / tests only).
    """
    out = frames
    if event_time_col is not None:
        out = out.withWatermark(event_time_col, max_delay)
    keys = dedup_keys if dedup_keys is not None else ["video_id", "frame_number"]
    if event_time_col is not None:
        return out.dropDuplicatesWithinWatermark(keys)
    return out.dropDuplicates(keys)


def detection_events(frames: DataFrame) -> DataFrame:
    """Output stream 1 (S8 payload): the nested P8 record
    (stream.py:405-418) of each of `fire_detection_stream`'s frame rows,
    serialized to JSON and keyed by video_id.  The detections are the
    P7 full-frame box built from the row's own, possibly carried-forward,
    prediction; `processing_timestamp` is wall-clock, as in the
    reference (SURVEY.md §7 excludes it from comparisons)."""
    event = F.struct(
        "video_id",
        "frame_number",
        "timestamp",
        F.current_timestamp().alias("processing_timestamp"),
        "has_fire",
        "fire_probability",
        surrogate.synth_detection(
            F.col("has_fire"), F.col("fire_probability"), F.col("width"), F.col("height")
        ).alias("detections"),
        F.struct(
            "width", "height",
            F.coalesce(F.col("fps"), F.lit(30.0)).alias("fps"),  # consumer default, stream.py:328
        ).alias("frame_metadata"),
    )
    return kafka_key_value(
        frames.select("video_id", F.to_json(event).alias("value")), "video_id", "value"
    )


def completion_events_json(completions: DataFrame) -> DataFrame:
    """S9 wire form (stream.py:305-311) of `fire_detection_stream`'s
    session rows: nested stats payload."""
    stats = F.struct("total_frames", "fire_count", "max_fire_probability")
    payload = F.struct(
        "video_id", stats.alias("stats"), "session_id", "first_seq", "last_seq", "closed_by"
    )
    return kafka_key_value(
        completions.select("video_id", F.to_json(payload).alias("value")),
        "video_id", "value",
    )


def fire_detection_query(
    kafka_df: DataFrame,
    media_dir: str,
    publish: Callable[[DataFrame, str], None],
    gap: int = DEFAULT_GAP,
    inference_every_n: int = 1,
    timeout_ms: "int | None" = 60_000,
    predict_fn: Callable = surrogate_predict_fn,
) -> tuple[DataStreamWriter, DataFrame]:
    """EP2 as one query over a Kafka-shaped ``(key, value)`` frame
    stream: decode, drop the frame bytes, run `fire_detection_stream`
    (its parameters pass through), then one foreachBatch that publishes
    P8 to the detections topic, runs the two media sinks under
    ``media_dir`` and publishes S9 to the completions topic.

    ``publish(records, topic)`` writes one batch of key/value records;
    `sources.kafka.kafka_publisher` is the Kafka one.  Returns the
    unstarted writer (set its checkpoint location and trigger, then
    ``start()``) and the dead-letter stream of `decode_frame_stream`."""
    good, dead = decode_frame_stream(kafka_df)
    out = fire_detection_stream(good.drop("frame_data"), gap, inference_every_n, timeout_ms, predict_fn)
    return out.writeStream.foreachBatch(_write_outputs(media_dir, publish)), dead


def _write_outputs(media_dir: str, publish: Callable[[DataFrame, str], None]):
    """The foreachBatch body of `fire_detection_query`.  A re-run batch
    (same batch id) rewrites its manifest segments and finds its
    promoted manifests in place; the publishes are at-least-once, like
    the reference's producer."""
    manifest, finalize = sinks.media_manifest_sink(media_dir), sinks.media_finalize_sink(media_dir)

    def write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()  # four outputs read it; the state op runs once
        try:
            frames = batch_df.where(F.col("row_type") == "frame")
            sessions = batch_df.where(F.col("row_type") == "session")
            publish(detection_events(frames), DETECTIONS_TOPIC)
            manifest(frames, batch_id)
            finalize(sessions, batch_id)
            publish(completion_events_json(sessions), COMPLETIONS_TOPIC)  # S11 uploads after
        finally:
            batch_df.unpersist()

    return write
