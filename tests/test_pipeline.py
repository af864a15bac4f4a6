"""EP2 end-to-end: frames → decode → predict → events/sessions →
sinks, on a bounded file-source stream (no Kafka needed)."""

import json
import os

import pytest

from firewatch_spark import surrogate
from firewatch_spark.sources import frames as frames_src
from firewatch_spark.sources.kafka import COMPLETIONS_TOPIC, DETECTIONS_TOPIC
from firewatch_spark.streaming import pipeline, sinks
from tests.conftest import exchange_inputs, rows


def _envelope(vid, fn, fps, width, height):
    import base64

    return json.dumps(
        {"video_id": vid, "frame_number": fn, "timestamp": f"{vid}@{fn}",
         "fps": fps, "frame_data": base64.b64encode(b"JPEG").decode(),
         "width": width, "height": height}
    )


def test_detection_event_stream_end_to_end(spark, tmp_path):
    """`fire_detection_query` over a file source of Kafka-shaped JSON
    envelopes, malformed ones included, with cadence N=3, in two
    micro-batches (frames out of order within each).  P8 equals an
    independent cadence + carry-forward model of each frame plus its
    own metadata; S9 equals the gap-closed session; the closed session
    promotes its manifest; dead letters carry their reasons; no binary
    column reaches the state shuffle."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    videos = {"a": (30.0, 640, 480), "b": (None, 320, 240)}  # b: fps omitted
    # a's frame 400 jumps the 300-frame gap: session 1 (0-9) closes in batch 1
    batches = [
        [("a", fn) for fn in (5, 1, 0, 9, 3, 7, 2, 8, 4, 6)] + [("b", fn) for fn in (2, 0, 1)],
        [("a", fn) for fn in (402, 400, 404, 401, 403)] + [("b", fn) for fn in (5, 3, 4)],
    ]
    garbage = "{not json at all"
    no_key = json.dumps({"frame_number": 7, "frame_data": ""})
    no_seq = json.dumps({"video_id": "a", "frame_data": ""})
    in_dir, topics, media = (str(tmp_path / d) for d in ("in", "topics", "media"))
    os.mkdir(in_dir)
    for i, bad in enumerate([[garbage], [no_key, no_seq]]):
        values = [_envelope(v, fn, *videos[v]).encode() for v, fn in batches[i]]
        values += [v.encode() for v in bad]
        path = f"{in_dir}/b{i}.parquet"
        pq.write_table(pa.table({"key": [b"k"] * len(values), "value": values}), path)
        os.utime(path, (1_700_000_000 + i,) * 2)  # replay order = batch order

    def publish(records, topic):
        records.write.mode("append").parquet(f"{topics}/{topic}")

    writer, dead = pipeline.fire_detection_query(
        spark.readStream.schema("key binary, value binary")
        .option("maxFilesPerTrigger", 1).parquet(in_dir),
        media, publish, gap=300, inference_every_n=3, timeout_ms=None,
    )
    q = writer.option("checkpointLocation", str(tmp_path / "ckpt"))
    dq = dead.writeStream.format("memory").queryName("ep2_dead")
    dq = dq.option("checkpointLocation", str(tmp_path / "ckpt_dead"))
    q, dq = (w.trigger(availableNow=True).start() for w in (q, dq))
    assert q.awaitTermination(120) and dq.awaitTermination(120), "EP2 did not drain"

    # the independent model: per video, every 3rd frame in frame order
    # is inferred, the others carry the last inference forward
    want = {}
    for vid, (fps, w, h) in videos.items():
        for i, fn in enumerate(sorted(fn for b in batches for v, fn in b if v == vid)):
            if i % 3 == 0:
                raw = (fn * surrogate.KNUTH % surrogate.MOD) / surrogate.MOD
                hf = raw >= surrogate.DEFAULT_THRESHOLD
                p = raw if hf else 0.0
            box = {"bbox": [0, 0, w, h], "confidence": p, "class": "fire", "class_id": 1}
            want[(vid, fn)] = {
                "video_id": vid, "frame_number": fn, "timestamp": f"{vid}@{fn}",
                "has_fire": hf, "fire_probability": p, "detections": [box] if hf else [],
                "frame_metadata": {"width": w, "height": h, "fps": fps or 30.0},
            }
    # frame 4 carries frame 3's fire; per-frame inference would differ
    assert want[("a", 4)]["has_fire"] and want[("a", 5)]["fire_probability"] == 0.7283

    p8 = rows(spark.read.parquet(f"{topics}/{DETECTIONS_TOPIC}"))
    got = {}
    for r in p8:
        ev = json.loads(r["value"])
        assert r["key"] == ev["video_id"] and ev.pop("processing_timestamp")
        got[(ev["video_id"], ev["frame_number"])] = ev
    assert len(p8) == len(want) and got == want

    s1 = [want[("a", fn)] for fn in range(10)]
    (s9,) = rows(spark.read.parquet(f"{topics}/{COMPLETIONS_TOPIC}"))
    assert s9["key"] == "a" and json.loads(s9["value"]) == {
        "video_id": "a", "session_id": 1, "first_seq": 0, "last_seq": 9,
        "closed_by": "gap",
        "stats": {"total_frames": 10, "fire_count": sum(e["has_fire"] for e in s1),
                  "max_fire_probability": max(e["fire_probability"] for e in s1)},
    }

    # a's closed session is promoted with exactly its own frames (plus
    # the flush rewrite of its last); the next session's frames, which
    # arrived in the closing batch, open a fresh segment
    def lines(fns):
        return [f"{fn}\t{int(want[('a', fn)]['has_fire'])}\n" for fn in fns]

    final = sinks._final_path(media, "a", 1)
    assert [f for f in os.listdir(media) if f.endswith(".manifest")] == [os.path.basename(final)]
    assert open(final).readlines() == lines([*range(10), 9])
    assert sinks._segments(media, "a", 1) == []
    (seg,) = sinks._segments(media, "a", 2)
    assert open(seg).readlines() == lines(range(400, 405))

    assert {r["reason"]: r["raw_value"] for r in rows(spark.sql("SELECT * FROM ep2_dead"))} == {
        "malformed_json": garbage, "missing_video_id": no_key,
        "missing_frame_number": no_seq,
    }

    shuffled = exchange_inputs(q._jsq.streamingQuery().lastExecution().executedPlan())
    assert {a.name() for a in shuffled} >= {"video_id", "frame_number", "width"}
    assert not [a.name() for a in shuffled if a.dataType().typeName() == "binary"]


FRAME_DDL = "video_id string, session_id long, frame_number long, has_fire boolean"


def test_completion_stream_and_manifest_sink(spark, tmp_path):
    """One SEGMENT per (video, session, micro-batch); finalize compacts
    a closed session's segments in batch-id order and rewrites the last
    frame, consumes only the closed sessions' segments, and two sessions
    of one video closing in one batch share its manifest, in session
    order."""
    media_dir = str(tmp_path / "media")
    manifest, fin = sinks.media_manifest_sink(media_dir), sinks.media_finalize_sink(media_dir)
    batches = [[(1, fn) for fn in fns] for fns in (range(0, 200, 2), range(1, 200, 2), range(200, 400))]
    batches.append([(3, 1200), (1, 400), (2, 800)])  # session 1's last frame; sessions 2 and 3
    for bid, b in enumerate(batches):
        manifest(spark.createDataFrame([("dense", sid, fn, fn % 3 == 0) for sid, fn in b], FRAME_DDL), bid)
    assert len(sinks._segments(media_dir, "dense", 1)) == 4
    closed = "video_id string, session_id long"
    fin(spark.createDataFrame([("dense", 1)], closed), 3)
    lines = open(sinks._final_path(media_dir, "dense", 3)).readlines()
    assert [int(ln.split("\t")[0]) for ln in lines] == [
        *range(0, 200, 2), *range(1, 200, 2), *range(200, 401), 400
    ]
    assert sinks._segments(media_dir, "dense", 1) == []
    assert len(sinks._segments(media_dir, "dense", 2)) == 1
    fin(spark.createDataFrame([("dense", 3), ("dense", 2)], closed), 4)
    assert open(sinks._final_path(media_dir, "dense", 4)).read() == "800\t0\n1200\t1\n1200\t1\n"
    assert not [f for f in os.listdir(media_dir) if ".manifest.seg-" in f]


def test_completion_events_json_shape(spark, tmp_path):
    from firewatch_spark.streaming.stateful_pipeline import fire_detection_stream

    data_dir = str(tmp_path / "frames_in")
    frames_src.write_frame_stream_dir(spark, data_dir, n_files=2)
    stream = (
        spark.readStream.schema(frames_src.FRAME_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(data_dir)
        .select("video_id", "frame_number")
    )
    # NoTimeout: an armed processing-time timer keeps an availableNow
    # query alive forever, so the drain would never finish
    out = fire_detection_stream(stream, gap=300, timeout_ms=None)
    comp = pipeline.completion_events_json(out.where("row_type = 'session'"))
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


def test_progress_writers_fsync_each_applied_batch(tmp_path, monkeypatch):
    """The progress listener commits each flush through the fsync'd
    atomic replace, leaving no temp file behind."""
    from firewatch_spark.streaming.progress import ProgressFileListener

    calls = []
    monkeypatch.setattr(os, "fsync", calls.append)
    listener = ProgressFileListener(str(tmp_path / "listener.json"))
    listener._flush()
    listener._flush()
    assert len(calls) == 2 and os.listdir(tmp_path) == ["listener.json"]
    assert json.load(open(listener.path)) == {"queries": []}


def test_sinks_idempotent_under_batch_retry(spark, tmp_path):
    """foreachBatch re-delivers the SAME batch_id after a failure (say
    the S9 publish raised after the media sinks ran).  Re-running
    `fire_detection_query`'s body on it leaves the files of one run: per
    video one promoted manifest with exactly its closed session's
    frames, whether or not some of them arrived in the closing batch,
    and the next session's frames in an open segment."""
    from pyspark.sql.types import StructType

    from firewatch_spark.streaming.stateful_pipeline import OUTPUT_SCHEMA

    metadata = StructType.fromDDL("timestamp string, fps double, width int, height int")
    schema = StructType([*OUTPUT_SCHEMA, *metadata])

    def batch(frames, closed):
        out = [{"row_type": "frame", "video_id": v, "session_id": sid, "frame_number": fn,
                "has_fire": fn % 2 == 0, "width": 4, "height": 3} for v, sid, fn in frames]
        out += [{"row_type": "session", "video_id": v, "session_id": 1} for v in closed]
        return spark.createDataFrame([[r.get(c) for c in schema.names] for r in out], schema)

    sent, media_dir = [], str(tmp_path / "media_retry")
    write = pipeline._write_outputs(media_dir, lambda df, topic: sent.append((topic, df.count())))
    write(batch([("a", 1, fn) for fn in range(5)] + [("b", 1, fn) for fn in range(3)], []), 0)
    # batch 1 closes session 1 of both videos: a's closing batch still
    # holds two of its frames, b's none
    b1 = batch([("a", 1, 6), ("a", 1, 5), ("a", 2, 400), ("a", 2, 401), ("b", 2, 500)], "ab")
    write(b1, 1)
    write(b1, 1)  # the retry

    def lines(fns):
        return "".join(f"{fn}\t{int(fn % 2 == 0)}\n" for fn in [*fns, fns[-1]])

    assert sorted(f for f in os.listdir(media_dir) if f.endswith(".manifest")) == [
        os.path.basename(sinks._final_path(media_dir, v, 1)) for v in "ab"
    ]
    assert open(sinks._final_path(media_dir, "a", 1)).read() == lines(range(7))
    assert open(sinks._final_path(media_dir, "b", 1)).read() == lines(range(3))
    assert sinks._segments(media_dir, "a", 1) == sinks._segments(media_dir, "b", 1) == []
    assert open(sinks._segments(media_dir, "a", 2)[0]).read() == "400\t1\n401\t0\n"
    assert open(sinks._segments(media_dir, "b", 2)[0]).read() == "500\t1\n"
    # the publishes are at-least-once: the retry sends its records again
    det, comp = DETECTIONS_TOPIC, COMPLETIONS_TOPIC
    assert sent == [(det, 8), (comp, 0), (det, 5), (comp, 2), (det, 5), (comp, 2)]


def test_manifest_segments_from_unsorted_partitions(spark, tmp_path):
    """A segment holds one session's lines of its video in frame order,
    whatever the partitioning and row order of the batch; a video id with glob
    metacharacters and a space gets its own segment; an empty batch
    writes no file."""
    media_dir = str(tmp_path / "media_unsorted")
    msink = sinks.media_manifest_sink(media_dir)
    odd = "cam [*] 2"
    # v's frames from 10 on belong to its second session
    rows = [("v", 1 + (fn >= 10), fn, fn % 4 == 1) for fn in (17, 3, 11, 0, 8, 5, 14, 2, 9)]
    rows += [(odd, 1, fn, fn % 2 == 0) for fn in (6, 1, 4)]
    batch = spark.createDataFrame(rows, FRAME_DDL).repartition(3)
    per_part = batch.rdd.glom().map(lambda p: {r["video_id"] for r in p}).collect()
    assert sum("v" in p for p in per_part) > 1  # one video over several partitions
    msink(batch, 3)

    segs = [("v", 1), ("v", 2), (odd, 1)]
    assert sorted(os.listdir(media_dir)) == sorted(
        os.path.basename(sinks._seg_path(media_dir, v, sid, 3)) for v, sid in segs
    )
    for vid, sid in segs:
        want = "".join(
            f"{fn}\t{int(hf)}\n" for v, s, fn, hf in sorted(rows) if (v, s) == (vid, sid)
        )
        assert open(sinks._seg_path(media_dir, vid, sid, 3)).read() == want
    assert sinks._segments(media_dir, odd, 1) == [sinks._seg_path(media_dir, odd, 1, 3)]

    msink(batch.limit(0), 4)
    assert len(os.listdir(media_dir)) == 3


def test_manifest_append_crash_atomic(spark, tmp_path):
    """Each segment commits in ONE os.replace of its own file, so a
    crash BEFORE the rename (a torn temp exists, no segment) is
    invisible to finalize, and the retry applies the batch exactly once
    (a crash AFTER the rename is `test_sinks_idempotent_under_batch_retry`)."""
    media_dir = str(tmp_path / "media_crash")
    msink = sinks.media_manifest_sink(media_dir)
    seg0 = sinks._seg_path(media_dir, "v", 1, 0)
    # the temp is PREFIX-named (.tmp-<seg>), so it never looks like a segment
    with open(os.path.join(media_dir, ".tmp-" + os.path.basename(seg0)), "w") as f:
        f.write("0\t0\n")  # torn write, never renamed
    assert sinks._segments(media_dir, "v", 1) == []
    msink(spark.createDataFrame([("v", 1, i, False) for i in range(5)], FRAME_DDL), 0)
    assert sinks._segments(media_dir, "v", 1) == [seg0] and len(set(open(seg0))) == 5


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
        data_dir = str(tmp_path / "frames_in")
        frames_src.write_frame_stream_dir(spark, data_dir, n_files=2)
        stream = spark.readStream.schema(frames_src.FRAME_SCHEMA).option(
            "maxFilesPerTrigger", 1
        ).parquet(data_dir)
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
    """The partition path uploads every row
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
    # the skip was CONFIRMED against S3, not assumed
    assert os.path.exists(
        os.path.join(rd, "HEAD__" + sinks.s3_key("w0").replace("/", "__"))
    )


def test_s3_upload_sink_missing_path_without_uploaded_object_fails(
    spark, tmp_path
):
    """A missing local path whose object is NOT in S3 (caller bug, disk
    eviction) must fail the task loudly, not silently drop the video."""
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
    good = _envelope("v", 1, 30.0, 2, 2)
    no_key = json.dumps({"frame_number": 2, "frame_data": ""})
    no_seq = json.dumps({"video_id": "v", "frame_data": ""})
    garbage = "{not json at all"
    kafka_like = spark.createDataFrame(
        [("v", v) for v in (good, no_key, no_seq, garbage)], "key string, value string"
    )
    ok, dead = pipeline.decode_frame_stream(kafka_like)
    ok_rows = rows(ok)
    assert len(ok_rows) == 1 and bytes(ok_rows[0]["frame_data"]) == b"JPEG"
    dead_rows = {r["reason"]: r["raw_value"] for r in rows(dead)}
    assert dead_rows == {
        "malformed_json": garbage, "missing_video_id": no_key,
        "missing_frame_number": no_seq,
    }
    # nothing is lost: good + dead partitions the input
    assert len(ok_rows) + len(dead_rows) == 4


def test_base64_transport_roundtrip(spark):
    kafka_like = spark.createDataFrame(
        [("v", _envelope("v", 1, 30.0, 2, 2))], "key string, value string"
    )
    out = rows(pipeline.decode_frame_stream(kafka_like)[0])
    assert bytes(out[0]["frame_data"]) == b"JPEG"
    assert (out[0]["video_id"], out[0]["frame_number"], out[0]["width"]) == ("v", 1, 2)
