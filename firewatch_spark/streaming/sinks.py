"""Custom sinks — S10 (per-video media sink) and S12 (S3 upload) as
foreachBatch functions.  (S13, the progress file, is
`progress.ProgressFileListener`.)

The reference's MP4 writer is executor-local cv2 state with a
finalize/verify dance (streams/pipeline/video_writer.py:23-167); cv2
is not in this container, so S10 here writes per-video ordered frame
*manifests* (same lifecycle: lazy open → ordered append → finalize +
verify) — the cv2 codec call is the only stubbed line.  S12 wraps
boto3 behind an import-try.

Scale note: foreachBatch runs on the driver, and both media sinks
write from there.  They launch no Python-worker stage: a per-video
executor stage paid a fixed pyspark task cost per micro-batch that
outweighed its rows.  The manifest sink pays instead with its batch's
frames on the driver (four narrow columns; see
`media_manifest_sink`).
"""

from __future__ import annotations

import itertools
import os
from operator import itemgetter

from pyspark.sql import DataFrame

try:
    import boto3  # type: ignore

    HAVE_BOTO3 = True
except ImportError:
    HAVE_BOTO3 = False


def _encode_line(frame_number, has_fire) -> str:
    # STUB for cv2.VideoWriter.write(frame): records frame identity
    return f"{frame_number}\t{int(bool(has_fire))}\n"


def _seg_path(output_dir: str, video_id: str, session_id: int, batch_id: int) -> str:
    return os.path.join(
        output_dir,
        f"{video_id}_with_heatmaps.manifest.seg-{session_id:012d}-{batch_id:012d}",
    )


def _segments(output_dir: str, video_id: str, session_id: int) -> list[str]:
    """Committed segment files of one session of a video, in batch-id
    order.  A prefix match, not a glob, so glob metacharacters in the
    video id or the directory cannot hide a file; in-flight temps are
    ``.tmp-``-prefixed (see _write_atomic), so they never match."""
    prefix = os.path.basename(_seg_path(output_dir, video_id, session_id, 0))[:-12]
    return sorted(os.path.join(output_dir, f) for f in os.listdir(output_dir) if f.startswith(prefix))


def _final_path(output_dir: str, video_id: str, batch_id: int) -> str:
    return os.path.join(output_dir, f"{video_id}_with_heatmaps-{batch_id:012d}.manifest")


def _write_atomic(path: str, lines: list[str]) -> None:
    """fsync'd temp + os.replace — the one commit primitive of the
    streaming file writers (these sinks and `progress.ProgressFileListener`).
    Without the fsync a crash can land the rename before the data and
    leave an empty or torn file behind.  The temp is ``.tmp-<name>``
    (a prefix), so a half-written temp never looks like a segment."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".tmp-{name}")
    with open(tmp, "w") as f:
        f.writelines(lines)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def media_manifest_sink(output_dir: str):
    """S10 analog, append phase: ONE logical writer per video session
    across micro-batches (the reference keeps a single open
    cv2.VideoWriter for the video's whole lifetime, stream.py:360-396),
    realized as per-batch SEGMENT files compacted at finalize, so a
    batch writes O(batch) lines however long the session runs.

    Segments are named by (video_id, session_id, batch_id), from the
    ``session_id`` every frame row carries.  A session closed by the gap
    rule is closed by a frame of the next session, usually in the same
    batch; keyed by session, that frame lands in the next session's
    segment, and finalize never compacts it into the closed one.

    Each segment commits with one fsync'd ``os.replace``; a retry of the
    batch rewrites the SAME segments with the SAME content (rows are
    sorted on all four columns, so duplicate frames keep their order),
    so redelivery is idempotent with no read-back, and a crash mid-write
    leaves only a stale temp that the retry's rename supersedes.

    The driver is the single writer: one ``toArrow()`` collect of
    (video_id, session_id, frame_number, has_fire), a sort in pyarrow (a
    Spark sort would add a sampling job and a shuffle), then one segment
    per (video, session) run of the sorted rows — O(frames) x 4 narrow
    columns on the driver per batch (~0.3 MB at 12k rows) in exchange
    for no Python-worker stage.  Real codec integration replaces
    `_encode_line`."""

    os.makedirs(output_dir, exist_ok=True)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        cols = ["video_id", "session_id", "frame_number", "has_fire"]
        table = batch_df.select(*cols).toArrow().sort_by([(c, "ascending") for c in cols])
        rows = zip(*(table.column(c).to_pylist() for c in cols))
        for (video_id, session_id), group in itertools.groupby(rows, key=itemgetter(0, 1)):
            _write_atomic(
                _seg_path(output_dir, video_id, session_id, batch_id),
                [_encode_line(fn, hf) for _, _, fn, hf in group],
            )

    return sink


def media_finalize_sink(output_dir: str):
    """S10 analog, finalize phase (W3), on a batch's session rows (each
    names a closed ``session_id`` of its ``video_id``): per video,
    COMPACT the closed sessions' segments in session then batch-id
    order, re-write the last frame to flush codec buffers
    (video_writer.py:112-117), fsync, verify (moov-atom probe analog,
    :119-167), promote, and remove those segments.  The video's open
    session keeps its segments.

    The promoted name is a pure function of (video_id, batch_id), in
    place of the reference's collision suffixing (:52-58), so a retried
    batch finds its own manifest: it then only removes the segments its
    re-run manifest write re-created.  Session ids cannot name it, as
    they restart at 1 when a timed-out video returns.  Sessions of one
    video that close in the same batch share its manifest, in session
    order."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # O(completion rows) per batch, one Arrow collect, no shuffle
        table = batch_df.select("video_id", "session_id").toArrow()
        closed = sorted(set(zip(*(c.to_pylist() for c in table.columns))))
        for video_id, group in itertools.groupby(closed, key=itemgetter(0)):
            segs = [seg for _, sid in group for seg in _segments(output_dir, video_id, sid)]
            final = _final_path(output_dir, video_id, batch_id)
            if not os.path.exists(final):
                lines: list[str] = []
                for seg in segs:
                    with open(seg) as f:
                        lines.extend(f.readlines())
                if lines:  # verify: an empty session never promotes
                    _write_atomic(final, [*lines, lines[-1]])  # last-frame rewrite
            for seg in segs:
                os.remove(seg)

    return sink


def s3_upload_sink(bucket: str, delete_local: bool = False, client_factory=None):
    """S12 — upload finalized media to s3://bucket/videos/{id}_....
    (consumer/s3_video_consumer.py:56-105); boto3 gated.  Runs inside
    foreachBatch on completion rows that carry a `local_filepath`
    column.

    Uploads happen EXECUTOR-SIDE via ``foreachPartition`` — one client
    per partition task, parallel across the cluster, and no
    ``collect()`` of file paths to the driver.
    Like the reference's consumer, a retry re-PUTs the same key —
    `s3_key` is a pure function of video_id, so S3's last-writer-wins
    overwrite makes re-delivery idempotent without a batch-id sidecar.

    RETRY-SAFE deletes: a Spark TASK retry (not just a foreachBatch
    retry) re-runs the partition from its first row, so deleting each
    file right after its PUT would leave a retried task hitting
    missing local files and failing forever.  Instead the partition
    uploads EVERYTHING first and deletes only after every PUT
    succeeded; on retry, a path already deleted by a previous attempt
    is skipped (its absence implies a completed upload under the
    idempotent key).  The MP4 must live on storage the executors can
    read (the media sinks write it on the driver).

    `client_factory` injects the S3 client per partition (tests pass a
    cloudpickle-able fake; default `boto3.client("s3")` — created
    INSIDE the task, clients don't serialize)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if client_factory is None and not HAVE_BOTO3:
            raise NotImplementedError(
                "boto3 not available in this container; S12 plumbing is "
                "exercised via its unit contract (key layout + delete flag)"
            )
        factory = client_factory

        def upload_partition(rows) -> None:
            s3 = factory() if factory is not None else boto3.client("s3")
            uploaded: list[str] = []
            for row in rows:
                path = row["local_filepath"]
                if delete_local and not os.path.exists(path):
                    # a previous attempt of this task may have uploaded
                    # and deleted it (idempotent key) — but CONFIRM the
                    # object is really there before skipping: a wrong
                    # path or evicted file would otherwise silently
                    # drop the video.  NB: speculative
                    # execution must stay off for this sink — a zombie
                    # attempt's phase-2 delete could race a live
                    # attempt's upload (documented trade; the reference
                    # consumer is single-process and has no analog).
                    s3.head_object(Bucket=bucket, Key=s3_key(row["video_id"]))
                    continue
                s3.upload_file(
                    path, bucket, s3_key(row["video_id"]),
                    ExtraArgs={"ContentType": "video/mp4"},
                )
                uploaded.append(path)
            if delete_local:  # phase 2: only after every PUT succeeded
                for path in uploaded:
                    os.remove(path)

        batch_df.select("video_id", "local_filepath").foreachPartition(
            upload_partition
        )

    return sink


def s3_key(video_id: str) -> str:
    """Key layout contract (consumer/s3_video_consumer.py:72)."""
    return f"videos/{video_id}_with_heatmaps.mp4"
