"""S10 codec probe — the cv2.VideoWriter open dance behind an
injectable cv2 seam.

The reference probes codecs in a fixed preference order and takes the
first writer that actually opens (reference
streams/pipeline/video_writer.py:23-42); its collision-safe filename
suffixing (:52-58) is replaced in streaming/sinks.py by a name fixed
by (video, batch id), so a retried batch finds its own file.  cv2 is not
in this container, so the cv2 surface used here (``VideoWriter_fourcc``
+ ``VideoWriter`` with ``isOpened``/``release``) is a constructor
argument — seam tests drive it with a fake; production passes the real
``cv2`` module unchanged.
"""

from __future__ import annotations

# video_writer.py:23-42 — HEVC first (smallest files), mp4v last (most
# compatible); first codec whose writer opens wins.
CODEC_PROBE_ORDER = ("HEVC", "hvc1", "avc1", "H264", "mp4v")


def open_writer(cv2_like, filepath: str, width: int, height: int, fps: float):
    """Probe `CODEC_PROBE_ORDER` and return ``(writer, codec)`` for the
    first codec that opens; failed attempts are released before moving
    on (video_writer.py:23-42, 45-89).  Raises RuntimeError when no
    codec opens — the caller treats the video as unwritable, as the
    reference does."""
    for codec in CODEC_PROBE_ORDER:
        fourcc = cv2_like.VideoWriter_fourcc(*codec)
        writer = cv2_like.VideoWriter(filepath, fourcc, fps, (width, height))
        if writer.isOpened():
            return writer, codec
        writer.release()
    raise RuntimeError(f"no usable codec for {filepath} (tried {CODEC_PROBE_ORDER})")
