"""Synthetic frame source — S1/S2 analog + the FIXTURES.md §1 sequence
patterns, fully deterministic (sha256 payloads, no wall clock).

The reference's producer walks a video file with cv2 and emits one
Kafka message per sampled frame (producer/video_producer.py:79-143).
The engine proper starts at the frame stream; this module generates
that stream shape for tests and local runs: dense, sampled, gap,
interleaved, short-tail and duplicate patterns — each of which pins a
reference behavior (session boundary, expected-count arithmetic,
at-least-once handling).
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

FRAME_SCHEMA = StructType(
    [
        StructField("video_id", StringType(), False),
        StructField("frame_number", LongType(), False),
        StructField("timestamp", StringType(), False),  # ISO-8601 string, like the wire
        StructField("fps", DoubleType(), True),
        StructField("frame_data", BinaryType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
    ]
)

_EPOCH0 = 1_700_000_000  # fixed base so timestamps are deterministic


def _payload(video_id: str, frame_number: int, size: int = 1024) -> bytes:
    """Deterministic pseudo-JPEG payload (FIXTURES.md §1):
    sha256(video_id ‖ frame_number) repeated to `size` bytes."""
    seed = hashlib.sha256(f"{video_id}|{frame_number}".encode()).digest()
    return (seed * (size // len(seed) + 1))[:size]


def _iso(frame_number: int, fps: float) -> str:
    from datetime import datetime, timezone

    t = _EPOCH0 + frame_number / (fps or 30.0)
    return datetime.fromtimestamp(t, tz=timezone.utc).replace(tzinfo=None).isoformat()


@dataclass
class VideoSpec:
    video_id: str
    frame_numbers: list[int]
    fps: float | None = 30.0
    width: int | None = 640
    height: int | None = 480


def fixture_specs(gap: int = 300) -> list[VideoSpec]:
    """The six FIXTURES.md §1 patterns."""
    dense = VideoSpec("dense", list(range(400)))
    sampled = VideoSpec("sampled", list(range(0, 100, 5)), fps=15.0)
    # gap video: +gap exactly (keeps session), then +gap+1 (closes)
    g = [0, 1, 2]
    g.append(g[-1] + gap)          # 302: same session
    g += [g[-1] + 1, g[-1] + 2 + gap + 1]  # 303, then 604: new session
    gapv = VideoSpec("gapvid", g, fps=60.0, width=1280, height=720)
    inter_a = VideoSpec("inter_a", list(range(50)))
    inter_b = VideoSpec("inter_b", list(range(50)), width=320, height=240)
    short = VideoSpec("short", list(range(30)), fps=None)  # fps omitted → consumer default
    dup = VideoSpec("dup", [0, 1, 1, 2])  # duplicate (video_id, frame_number)
    return [dense, sampled, gapv, inter_a, inter_b, short, dup]


def synthetic_frames(
    spark: SparkSession,
    specs: list[VideoSpec] | None = None,
    payload_bytes: int = 1024,
) -> DataFrame:
    """Batch frame stream covering the fixture patterns, interleaved in
    arrival order (round-robin across videos, per-video order kept —
    FIXTURES pattern 4)."""
    specs = specs if specs is not None else fixture_specs()
    queues = [[(s, fn) for fn in s.frame_numbers] for s in specs]
    rows = []
    i = 0
    while any(queues):
        for qi in range(len(queues)):
            if queues[qi]:
                s, fn = queues[qi].pop(0)
                rows.append(
                    (
                        s.video_id,
                        fn,
                        _iso(fn, s.fps or 30.0),
                        s.fps,
                        _payload(s.video_id, fn, payload_bytes),
                        s.width,
                        s.height,
                    )
                )
        i += 1
    return spark.createDataFrame(rows, FRAME_SCHEMA)


def frame_envelopes(frames: DataFrame) -> DataFrame:
    """S6 — frames as the producer publishes them: Kafka-shaped
    ``(key, value)`` binary records, key = video_id, value = the JSON
    envelope with a base64 payload (reference
    producer/video_producer.py:69-77,126-133) that
    `streaming.pipeline.decode_frame_stream` reads.  A narrow
    projection, so it maps a frame stream as well as a batch."""
    from ..functions.projections import encode_transport

    payload = encode_transport(F.col("frame_data"), "base64-json").alias("frame_data")
    envelope = F.struct(*[payload if c == "frame_data" else c for c in frames.columns])
    return frames.select(
        F.col("video_id").cast("binary").alias("key"),
        F.to_json(envelope).cast("binary").alias("value"),
    )


def video_file_scan(
    spark: SparkSession,
    path_glob: str,
    frame_interval: int = 1,
    payload_bytes: int = 1024,
) -> DataFrame:
    """S1 — video-file scan (reference producer/video_producer.py:79-143):
    one input video file → one row per sampled frame.

    Spark-first shape: ``spark.read.format("binaryFile")`` scans the
    container files distributed (one task per file, no shuffle), then a
    mapInPandas stage explodes each file into frame rows — the cv2
    read loop's distributed twin.  S2 sampling (`frame_count % N == 0`,
    :106) happens inside the explode so skipped frames never
    materialize.

    cv2 is not in this container: frame count / fps / dims come from a
    DETERMINISTIC FAKE (sha256 of the file bytes), payloads from the
    FIXTURES.md generator.  A real deployment replaces `_probe` and
    `_read_frame` with cv2.VideoCapture calls — the scan/explode
    plumbing is what this module proves.
    """
    from collections.abc import Iterator

    import pandas as pd

    files = spark.read.format("binaryFile").load(path_glob).select(
        "path", "content"
    )

    def _explode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                content = bytes(row.content)
                h = hashlib.sha256(content).digest()
                # fake container probe: 30-240 frames, fps from header byte
                n_frames = 30 + h[0] % 211
                fps = float(15 + h[1] % 46)
                video_id = row.path.rsplit("/", 1)[-1].rsplit(".", 1)[0]
                frames = range(0, n_frames, frame_interval)
                yield pd.DataFrame(
                    {
                        "video_id": video_id,
                        "frame_number": list(frames),
                        "timestamp": [_iso(fn, fps) for fn in frames],
                        "fps": fps,
                        "frame_data": [
                            _payload(video_id, fn, payload_bytes) for fn in frames
                        ],
                        "width": 640,
                        "height": 480,
                    }
                )

    return files.mapInPandas(_explode, schema=FRAME_SCHEMA)


def write_frame_stream_dir(
    spark: SparkSession,
    path: str,
    specs: list[VideoSpec] | None = None,
    n_files: int = 3,
) -> None:
    """Materialize the synthetic stream as up to `n_files` parquet
    files in arrival order — a file-source streaming harness: read with
    ``spark.readStream.schema(FRAME_SCHEMA).option("maxFilesPerTrigger",
    1).parquet(path)`` to replay it micro-batch by micro-batch.

    Delegates to ``streaming.replay.write_replay_chunks`` (VERDICT r5
    #8): chunks are written BY SPARK via one repartitionByRange job on
    ``frame_number`` — driver memory is O(n_files), never a
    ``toPandas()`` of the stream.  Range-chunking preserves the only
    ordering the stateful operators need (each key's frames
    non-decreasing across micro-batches; within a batch they sort)."""
    from ..streaming.replay import write_replay_chunks

    write_replay_chunks(
        synthetic_frames(spark, specs), path, order_col="frame_number",
        n_chunks=n_files,
    )
