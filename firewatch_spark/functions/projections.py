"""Projection / filter / scalar-transform operators (SURVEY.md §2.2).

P1 transport decode and P5 per-box confidence filter — pure Column
algebra (the P8 detection event is `streaming.pipeline.detection_events`).
P2/P10/P11 (JPEG decode, overlay, model transform) need cv2/torch, which
are not in this container: their Spark-side plumbing lives in
sources/multimodal.py as clearly-marked stubs with real schemas and
batch shapes.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def decode_transport(value: Column, transport: str = "msgpack") -> Column:
    """P1 — transport decode (reference streams/stream.py:125-137).

    msgpack mode: the Kafka value is already raw JPEG bytes — identity
    on BinaryType.  base64-json mode: the payload field is a base64
    string — unbase64.  The reference accepts both shapes at runtime;
    here the mode is explicit (schema-first).
    """
    if transport == "msgpack":
        return value.cast("binary")
    if transport == "base64-json":
        return F.unbase64(value)
    raise ValueError(f"unknown transport {transport!r} (reference config.py:64-67)")


def encode_transport(payload: Column, transport: str = "msgpack") -> Column:
    """S5 — transport encode, the producer-side inverse of
    :func:`decode_transport` (reference producer/video_producer.py:69-77):
    msgpack mode ships raw bytes on the Kafka value natively; legacy
    base64-json mode wraps them in a base64 string."""
    if transport == "msgpack":
        return payload.cast("binary")
    if transport == "base64-json":
        return F.base64(payload)
    raise ValueError(f"unknown transport {transport!r} (reference config.py:64-67)")


def filter_detections(detections: Column, threshold: float) -> Column:
    """P5 — per-box confidence filter, strict `>` (yolov8.py:145).

    Note the deliberate asymmetry with the frame-level threshold P3,
    which is `>=` (fire_detect_nn.py:132) — pinned by tests.
    """
    return F.filter(detections, lambda d: d["confidence"] > F.lit(threshold))
