"""EP2 end-to-end: frames → decode → predict → events/sessions →
sinks, on a bounded file-source stream (no Kafka needed)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from firewatch_spark.sources import frames as frames_src
from firewatch_spark.streaming import pipeline, sinks
from tests.conftest import rows


def _frame_stream(spark, tmp_path, n_files=2):
    data_dir = str(tmp_path / "frames_in")
    frames_src.write_frame_stream_dir(spark, data_dir, n_files=n_files)
    return (
        spark.readStream.schema(frames_src.FRAME_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(data_dir)
    )


def test_detection_event_stream_end_to_end(spark, tmp_path):
    stream = _frame_stream(spark, tmp_path)
    predicted = pipeline.with_predictions(stream)
    events = pipeline.detection_events(
        predicted, deterministic_ts=F.lit("2024-01-01T00:00:00")
    )
    q = (
        events.writeStream.format("memory")
        .queryName("det_events")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt1"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = rows(spark.sql("SELECT * FROM det_events"))
    n_frames = frames_src.synthetic_frames(spark).count()
    assert len(out) == n_frames  # one event per frame, skipped or not
    ev = json.loads(out[0]["value"])
    assert set(ev) == {
        "video_id", "frame_number", "timestamp", "processing_timestamp",
        "has_fire", "fire_probability", "detections", "frame_metadata",
    }
    assert set(ev["frame_metadata"]) == {"width", "height", "fps"}
    # fps default backfill for the fps-less video (stream.py:328)
    short = [json.loads(r["value"]) for r in out if r["key"] == "short"]
    assert short and all(e["frame_metadata"]["fps"] == 30.0 for e in short)


def _frame_lines(path) -> int:
    """Frame lines in a manifest, excluding the #bid lifecycle header."""
    return sum(1 for ln in open(path) if not ln.startswith("#"))


def test_completion_stream_and_manifest_sink(spark, tmp_path):
    stream = _frame_stream(spark, tmp_path)
    predicted = pipeline.with_predictions(stream)

    media_dir = str(tmp_path / "media")
    manifest = sinks.media_manifest_sink(media_dir)
    q = (
        predicted.select("video_id", "frame_number", "has_fire")
        .writeStream.foreachBatch(manifest)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    files = sorted(os.listdir(media_dir))
    # one SEGMENT per (video, micro-batch) — batch-id name order is the
    # cross-batch frame order; finalize compacts them (round 6: O(batch)
    # write per micro-batch instead of an O(session) manifest rewrite)
    dense = [f for f in files if f.startswith("dense_with_heatmaps")]
    assert all(".manifest.seg-" in f for f in dense) and len(dense) >= 2
    assert sum(_frame_lines(os.path.join(media_dir, f)) for f in dense) == 400

    # W3 finalize on a completion row: compact + last-frame rewrite +
    # promote; segments removed so the next lifecycle starts fresh
    fin = sinks.media_finalize_sink(media_dir)
    fin(spark.createDataFrame([("dense",)], "video_id string"), 0)
    final = os.path.join(media_dir, "dense_with_heatmaps.manifest")
    assert os.path.exists(final)
    assert not [f for f in os.listdir(media_dir) if ".manifest.seg-" in f and f.startswith("dense")]
    lines = open(final).readlines()
    assert len(lines) == 401 and lines[-1] == lines[-2]
    # frames compacted in order across segments
    frame_nums = [int(ln.split("\t")[0]) for ln in lines[:-1]]
    assert frame_nums == sorted(frame_nums)
    # a second session of the same video promotes collision-safe
    open(os.path.join(media_dir, "dense_with_heatmaps.manifest.seg-000000000007"), "w").write("1\t0\n")
    fin(spark.createDataFrame([("dense",)], "video_id string"), 1)
    assert os.path.exists(os.path.join(media_dir, "dense_with_heatmaps_1.manifest"))
    # an upgrade mid-lifecycle: a legacy .part plus newer segments
    # compact together, .part frames first — and a segment whose batch
    # id the .part's #bid header already committed is SKIPPED (the
    # straddling-retry duplication, round-6 review)
    open(os.path.join(media_dir, "up_with_heatmaps.manifest.part"), "w").write("#bid\t0\n1\t0\n")
    open(os.path.join(media_dir, "up_with_heatmaps.manifest.seg-000000000000"), "w").write("1\t0\n")
    open(os.path.join(media_dir, "up_with_heatmaps.manifest.seg-000000000001"), "w").write("2\t0\n")
    fin(spark.createDataFrame([("up",)], "video_id string"), 2)
    up = open(os.path.join(media_dir, "up_with_heatmaps.manifest")).readlines()
    assert up == ["1\t0\n", "2\t0\n", "2\t0\n"]


def test_completion_events_json_shape(spark, tmp_path):
    stream = _frame_stream(spark, tmp_path)
    predicted = pipeline.with_predictions(stream)
    # NoTimeout: an armed processing-time timer keeps an availableNow
    # query alive forever, so the drain would never finish
    comp = pipeline.completion_events_json(
        pipeline.completion_events(predicted, gap=300, timeout_ms=None)
    )
    q = (
        comp.writeStream.format("memory")
        .queryName("comp_events")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "completion stream did not drain in 120s"
    out = rows(spark.sql("SELECT * FROM comp_events"))
    # the gap fixture closes at least one session during the stream
    assert out
    payload = json.loads(out[0]["value"])
    assert set(payload["stats"]) == {"total_frames", "fire_count", "max_fire_probability"}


def test_progress_file_sink_monotone(spark, tmp_path):
    path = str(tmp_path / "progress.json")
    sink = sinks.progress_file_sink(path, {"v": 10})
    b1 = spark.createDataFrame([("v", i) for i in range(4)], "video_id string, frame_number long")
    b2 = spark.createDataFrame([("v", i) for i in range(4, 10)], "video_id string, frame_number long")
    sink(b1, 0)
    state1 = json.load(open(path))
    assert state1["videos"][0]["stream_progress"] == 40
    sink(b2, 1)
    state2 = json.load(open(path))
    assert state2["videos"][0]["stream_progress"] == 100


def test_sinks_idempotent_under_batch_retry(spark, tmp_path):
    """foreachBatch re-delivers the SAME batch_id after a failure;
    both file sinks must apply each batch exactly once (the documented
    idempotency-by-batch-id pattern exactly-once relies on)."""
    media_dir = str(tmp_path / "media_retry")
    msink = sinks.media_manifest_sink(media_dir)
    b0 = spark.createDataFrame(
        [("v", i, False) for i in range(5)],
        "video_id string, frame_number long, has_fire boolean",
    )
    msink(b0, 0)
    msink(b0, 0)  # retry of the same micro-batch
    b1 = spark.createDataFrame(
        [("v", i, False) for i in range(5, 8)],
        "video_id string, frame_number long, has_fire boolean",
    )
    msink(b1, 1)
    segs = sinks._seg_glob(media_dir, "v")
    # one segment per batch id; the retry OVERWROTE batch 0's segment
    # with identical content instead of appending a duplicate
    assert [os.path.basename(s)[-3:] for s in segs] == ["000", "001"]
    assert sum(_frame_lines(s) for s in segs) == 8  # 5 + 3
    # finalize removes the segments so the next lifecycle starts fresh
    sinks.media_finalize_sink(media_dir)(
        spark.createDataFrame([("v",)], "video_id string"), 2
    )
    assert sinks._seg_glob(media_dir, "v") == []

    ppath = str(tmp_path / "progress_retry.json")
    psink = sinks.progress_file_sink(ppath, {"v": 10})
    pb = spark.createDataFrame(
        [("v", i) for i in range(5)], "video_id string, frame_number long"
    )
    psink(pb, 0)
    psink(pb, 0)  # retry
    state = json.load(open(ppath))
    assert state["videos"][0]["frames_done"] == 5
    assert state["videos"][0]["stream_progress"] == 50


def test_manifest_append_crash_atomic(spark, tmp_path):
    """Each batch's frames commit in ONE os.replace of that batch's OWN
    segment file, so a retry after a crash at ANY point re-applies
    exactly once — with no read-back or batch-id header at all (the
    retry rewrites the same segment name with the same content).

    Both crash sides are simulated: (a) crash BEFORE the rename (a
    stale .tmp exists, no segment) → the retry applies the batch;
    (b) crash AFTER the rename (commit complete, foreachBatch still
    re-delivers the batch id) → the retry overwrites identically."""
    media_dir = str(tmp_path / "media_crash")
    os.makedirs(media_dir)
    msink = sinks.media_manifest_sink(media_dir)
    seg0 = sinks._seg_path(media_dir, "v", 0)

    b0 = spark.createDataFrame(
        [("v", i, False) for i in range(5)],
        "video_id string, frame_number long, has_fire boolean",
    )
    # (a) crash mid-write: a partial temp file exists, no segment yet.
    # The temp is PREFIX-named (.tmp-<seg>) so finalize's .seg-* glob
    # can never compact a torn temp (round-6 review)
    torn = os.path.join(media_dir, ".tmp-" + os.path.basename(seg0))
    with open(torn, "w") as f:
        f.write("0\t0\n")  # torn write, never renamed
    assert sinks._seg_glob(media_dir, "v") == []  # invisible to finalize
    msink(b0, 0)  # the retry
    assert _frame_lines(seg0) == 5

    # (b) crash after the atomic rename: state committed, batch 0
    # re-delivered once more — the rewrite is byte-identical
    before = open(seg0).read()
    msink(b0, 0)
    assert open(seg0).read() == before
    assert len(set(open(seg0))) == 5  # no duplicated frames, ever

    # normal progress still works after the simulated crashes
    b1 = spark.createDataFrame(
        [("v", 5, True)], "video_id string, frame_number long, has_fire boolean"
    )
    msink(b1, 1)
    assert sum(_frame_lines(s) for s in sinks._seg_glob(media_dir, "v")) == 6


def test_streaming_query_listener_progress(spark, tmp_path):
    """S13 idiomatic channel: engine metrics → progress file via
    StreamingQueryListener; rows_seen must reach the input row count
    and the entry must flip inactive on termination."""
    import time

    from firewatch_spark.streaming.progress import ProgressFileListener

    path = str(tmp_path / "progress.json")
    listener = ProgressFileListener(path)
    spark.streams.addListener(listener)
    try:
        stream = _frame_stream(spark, tmp_path)
        q = (
            stream.select("video_id", "frame_number")
            .writeStream.format("memory")
            .queryName("listener_probe")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt_listener"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        n_frames = frames_src.synthetic_frames(spark).count()
        # listener callbacks are async on the driver — poll with deadline
        deadline = time.monotonic() + 60
        entry = None
        while time.monotonic() < deadline:
            if os.path.exists(path):
                state = json.load(open(path))
                matches = [e for e in state["queries"] if e["name"] == "listener_probe"]
                if matches and matches[0]["rows_seen"] >= n_frames and not matches[0]["active"]:
                    entry = matches[0]
                    break
            time.sleep(0.5)
        assert entry is not None, "listener never reported full progress"
        assert entry["rows_seen"] == n_frames
        assert entry["batches"] >= 2  # maxFilesPerTrigger=1, 2 files
    finally:
        spark.streams.removeListener(listener)


def test_s3_key_layout():
    assert sinks.s3_key("abc") == "videos/abc_with_heatmaps.mp4"


def test_s3_upload_sink_runs_executor_side(spark, tmp_path):
    """VERDICT r4 #2 contract: the partition path uploads every row
    with the documented key layout, from executor tasks (proven by the
    fake client writing through the shared filesystem), honors
    delete_local, and never collects paths to the driver (the sink body
    contains no collect — this test exercises the foreachPartition
    route end-to-end)."""
    record_dir = tmp_path / "uploads"
    record_dir.mkdir()
    locals_dir = tmp_path / "media"
    locals_dir.mkdir()
    vids = [f"v{i}" for i in range(5)]
    for v in vids:
        (locals_dir / f"{v}.mp4").write_bytes(b"mp4")
    batch = spark.createDataFrame(
        [(v, str(locals_dir / f"{v}.mp4")) for v in vids],
        "video_id string, local_filepath string",
    ).repartition(3)  # multiple partitions → multiple clients

    rd = str(record_dir)

    # defined INSIDE the test so cloudpickle ships it by value — the
    # executor workers cannot import the test module by name.  Records
    # each upload as a marker file in a shared directory (executor
    # tasks run in worker subprocesses, so in-memory recording would
    # never reach the test).
    class FakeS3Client:
        def upload_file(self, filename, bucket, key, ExtraArgs=None):
            assert ExtraArgs == {"ContentType": "video/mp4"}
            marker = os.path.join(rd, key.replace("/", "__"))
            with open(marker, "w") as f:
                json.dump(
                    {"filename": filename, "bucket": bucket, "key": key}, f
                )

    sink = sinks.s3_upload_sink(
        "my-bucket", delete_local=True, client_factory=FakeS3Client
    )
    sink(batch, batch_id=0)

    markers = sorted(os.listdir(rd))
    assert markers == sorted(
        f"videos__{v}_with_heatmaps.mp4" for v in vids
    )
    recorded = json.load(open(os.path.join(rd, markers[0])))
    assert recorded["bucket"] == "my-bucket"
    assert recorded["key"].startswith("videos/")
    # delete_local removed every source file (executor-side os.remove)
    assert os.listdir(locals_dir) == []


def test_s3_upload_sink_task_retry_after_partial_delete(spark, tmp_path):
    """Task-retry safety: if a previous attempt uploaded and deleted
    some files before dying, the retry must SKIP the missing paths
    (their absence implies a completed upload under the idempotent
    key) and still upload + delete the remainder — never
    FileNotFoundError-poison the partition.  Deletes are also
    two-phase: nothing is removed until every PUT in the partition
    succeeded."""
    record_dir = tmp_path / "uploads2"
    record_dir.mkdir()
    locals_dir = tmp_path / "media2"
    locals_dir.mkdir()
    vids = [f"w{i}" for i in range(4)]
    for v in vids:
        (locals_dir / f"{v}.mp4").write_bytes(b"mp4")
    # simulate the prior attempt: w0 was uploaded AND deleted already
    os.remove(locals_dir / "w0.mp4")

    batch = spark.createDataFrame(
        [(v, str(locals_dir / f"{v}.mp4")) for v in vids],
        "video_id string, local_filepath string",
    ).coalesce(1)  # one partition = the retried task

    rd = str(record_dir)

    class FakeS3Client:
        def upload_file(self, filename, bucket, key, ExtraArgs=None):
            assert os.path.exists(filename)  # never PUT a missing file
            with open(os.path.join(rd, key.replace("/", "__")), "w") as f:
                f.write(filename)

        def head_object(self, Bucket, Key):
            # the prior attempt DID upload w0 under the idempotent key
            assert Key == sinks.s3_key("w0")
            with open(os.path.join(rd, "HEAD__" + Key.replace("/", "__")), "w"):
                pass
            return {"ContentLength": 3}

    sink = sinks.s3_upload_sink(
        "my-bucket", delete_local=True, client_factory=FakeS3Client
    )
    sink(batch, batch_id=0)

    uploaded = sorted(p for p in os.listdir(rd) if not p.startswith("HEAD__"))
    # w0 skipped (already gone), the other three uploaded and deleted
    assert uploaded == sorted(
        f"videos__{v}_with_heatmaps.mp4" for v in vids[1:]
    )
    assert os.listdir(locals_dir) == []
    # the skip was CONFIRMED against S3, not assumed (ADVICE r5)
    assert os.path.exists(
        os.path.join(rd, "HEAD__" + sinks.s3_key("w0").replace("/", "__"))
    )


def test_s3_upload_sink_missing_path_without_uploaded_object_fails(
    spark, tmp_path
):
    """A missing local path whose object is NOT in S3 (caller bug, disk
    eviction) must fail the task loudly, not silently drop the video
    (ADVICE r5)."""
    batch = spark.createDataFrame(
        [("x0", str(tmp_path / "nope.mp4"))],
        "video_id string, local_filepath string",
    ).coalesce(1)

    class FakeS3Client:
        def upload_file(self, filename, bucket, key, ExtraArgs=None):
            raise AssertionError("must not PUT a missing file")

        def head_object(self, Bucket, Key):
            raise FileNotFoundError(f"404: {Bucket}/{Key}")

    sink = sinks.s3_upload_sink(
        "my-bucket", delete_local=True, client_factory=FakeS3Client
    )
    with pytest.raises(Exception, match="404"):
        sink(batch, batch_id=0)


def test_dead_letter_routing(spark):
    """§1.3 upgrade: malformed envelopes are routed with a reason, not
    swallowed (reference drops them, stream.py:421-423)."""
    import base64

    good_payload = base64.b64encode(b"JPEG!").decode()
    good = json.dumps(
        {"video_id": "v", "frame_number": 1, "timestamp": "t", "fps": 30.0,
         "frame_data": good_payload, "width": 2, "height": 2}
    )
    no_key = json.dumps({"frame_number": 2, "frame_data": good_payload})
    garbage = "{not json at all"
    kafka_like = spark.createDataFrame(
        [("v", good), ("v", no_key), ("v", garbage)], "key string, value string"
    )
    ok, dead = pipeline.decode_frame_stream_dead_letter(kafka_like)
    ok_rows = rows(ok)
    assert len(ok_rows) == 1 and bytes(ok_rows[0]["frame_data"]) == b"JPEG!"
    dead_rows = {r["reason"]: r["raw_value"] for r in rows(dead)}
    assert dead_rows == {"malformed_json": garbage, "missing_video_id": no_key}
    # nothing is lost: good + dead partitions the input
    assert len(ok_rows) + len(dead_rows) == 3


def test_base64_transport_roundtrip(spark):
    import base64

    payload = base64.b64encode(b"JPEG!").decode()
    msg = json.dumps(
        {"video_id": "v", "frame_number": 1, "timestamp": "t", "fps": 30.0,
         "frame_data": payload, "width": 2, "height": 2}
    )
    kafka_like = spark.createDataFrame([("v", msg)], "key string, value string")
    out = rows(pipeline.decode_frame_stream(kafka_like, transport="base64-json"))
    assert bytes(out[0]["frame_data"]) == b"JPEG!"
