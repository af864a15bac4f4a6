"""EP2 — the main detection pipeline as Structured Streaming queries
(SURVEY.md §3 EP2: readStream → decode → predict → stateful session →
two output streams).

Reference topology (streams/stream.py:444-582): a single consumer loop
doing decode → session bookkeeping → cadence → inference → stats →
sinks per message.  Spark splits it into a declarative pipeline:

    frames (kafka/file source)
      → decode (P1; frame bytes stay columnar, pruned when unused)
      → stateful_pipeline.fire_detection_stream: cadence (M6) +
        model + LOCF + sessions (W1-W4) in one stateful stage
          ├─ 'frame' rows   ──► detections sink
          └─ 'session' rows ──► completion_events_json (S9) ──► completions sink

Stage boundaries: source tasks → shuffle by video_id (the ONLY wide
exchange, required by per-key state) → stateful stage → sinks.  The
frame binary column is dropped before the shuffle: at 100 TB the
payload never crosses the network — only ids, numbers and booleans do.

The P8 nested detection record needs frame metadata (timestamp, size,
fps, detections) that the stateful operator does not carry, so it is
built from a per-frame prediction without cadence: `with_predictions`
→ `detection_events`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import models, surrogate
from ..functions.projections import (
    decode_transport,
    detection_event,
    detection_event_json,
)


def decode_frame_stream(kafka_df: DataFrame, transport: str = "msgpack") -> DataFrame:
    """P1 over a raw Kafka frame topic: key = video_id, value = frame
    payload (msgpack: raw JPEG bytes; base64-json: JSON envelope with a
    base64 payload — reference streams/stream.py:58-68,125-137)."""
    if transport == "msgpack":
        return kafka_df.select(
            F.col("key").cast("string").alias("video_id"),
            decode_transport(F.col("value"), "msgpack").alias("frame_data"),
            F.col("timestamp").alias("kafka_ts"),
        )
    env_schema = (
        "video_id string, frame_number long, timestamp string, fps double,"
        " frame_data string, width int, height int"
    )
    parsed = kafka_df.select(
        F.from_json(F.col("value").cast("string"), env_schema).alias("m")
    ).select("m.*")
    return parsed.withColumn(
        "frame_data", decode_transport(F.col("frame_data"), "base64-json")
    )


def decode_frame_stream_dead_letter(
    kafka_df: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """§1.3 schema-system upgrade: malformed frame envelopes are ROUTED
    to a dead-letter stream instead of swallowed.

    The reference wraps each frame in try/except and drops failures on
    the floor (reference streams/stream.py:421-423); plain ``from_json``
    would do the same silently (null struct).  PERMISSIVE parsing with
    ``columnNameOfCorruptRecord`` keeps the raw payload of every bad
    record: unparseable JSON and envelopes missing the required
    ``video_id`` both land in the dead-letter output with a reason —
    re-playable, countable, alertable.  Returns ``(good, dead)``."""
    env_schema = (
        "video_id string, frame_number long, timestamp string, fps double,"
        " frame_data string, width int, height int, _corrupt_record string"
    )
    parsed = kafka_df.select(
        F.col("value").cast("string").alias("_raw"),
        F.from_json(
            F.col("value").cast("string"),
            env_schema,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"},
        ).alias("m"),
    )
    is_corrupt = F.col("m._corrupt_record").isNotNull() | F.col("m").isNull()
    missing_key = F.col("m.video_id").isNull()
    good = (
        parsed.filter(~is_corrupt & ~missing_key)
        .select("m.*")
        .drop("_corrupt_record")
        .withColumn("frame_data", decode_transport(F.col("frame_data"), "base64-json"))
    )
    dead = parsed.filter(is_corrupt | missing_key).select(
        F.col("_raw").alias("raw_value"),
        F.when(is_corrupt, F.lit("malformed_json"))
        .otherwise(F.lit("missing_video_id"))
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


def with_predictions(
    frames: DataFrame,
    backend: str = "surrogate",
    use_udf: bool = False,
    threshold: float = surrogate.DEFAULT_THRESHOLD,
) -> DataFrame:
    """M1/M2' applied to a frame stream; prediction fields flattened the
    way the consumer loop sees them (stream.py:380-418)."""
    out = models.with_prediction(
        frames, backend, seq="frame_number", width="width", height="height",
        use_udf=use_udf,
    )
    return out.select(
        "*",
        F.col("prediction.has_fire").alias("has_fire"),
        F.col("prediction.fire_probability").alias("fire_probability"),
        F.col("prediction.detections").alias("detections"),
    ).drop("prediction")


def detection_events(predicted: DataFrame, deterministic_ts=None) -> DataFrame:
    """Output stream 1 (S8 payload): the nested P8 record serialized to
    JSON, keyed by video_id.  The heavy frame bytes are pruned HERE —
    Catalyst never carries them past this projection."""
    ev = detection_event(
        F.col("video_id"),
        F.col("frame_number"),
        F.col("timestamp"),
        F.col("has_fire"),
        F.col("fire_probability"),
        F.col("detections"),
        F.col("width"),
        F.col("height"),
        F.coalesce(F.col("fps"), F.lit(30.0)),  # consumer default, stream.py:328
        deterministic_ts=deterministic_ts,
    )
    return predicted.select(
        F.col("video_id").alias("key"), detection_event_json(ev).alias("value")
    )


def completion_events_json(completions: DataFrame) -> DataFrame:
    """S9 wire form (stream.py:305-311) of `fire_detection_stream`'s
    session rows: nested stats payload."""
    payload = F.struct(
        F.col("video_id"),
        F.struct(
            F.col("total_frames"),
            F.col("fire_count"),
            F.col("max_fire_probability"),
        ).alias("stats"),
        F.col("session_id"),
        F.col("first_seq"),
        F.col("last_seq"),
        F.col("closed_by"),
    )
    return completions.select(
        F.col("video_id").alias("key"), F.to_json(payload).alias("value")
    )
