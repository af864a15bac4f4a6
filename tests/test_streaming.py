"""Streaming spine: stateful session parity vs batch, shutdown-flush
timeout, Kafka builder options, synthetic source patterns, multimodal
plumbing."""

import time

from pyspark.sql import functions as F

from firewatch_spark import surrogate
from firewatch_spark.operators.sessions import session_stats, with_session_id
from firewatch_spark.sources import frames as frames_src
from firewatch_spark.sources import kafka as kafka_src
from firewatch_spark.sources import multimodal
from firewatch_spark.streaming import stateful_pipeline as sp
from tests.conftest import rows

GAP = 300


def _with_pred(df):
    raw = surrogate.raw_probability(F.col("frame_number"))
    return df.withColumn("has_fire", surrogate.has_fire(raw)).withColumn(
        "fire_probability", surrogate.fire_probability(raw)
    )


_RUN_COUNTER = iter(range(1000))


def _run_stream(
    spark, tmp_path, timeout_ms=None, wait_after=0.0, trigger=None, until=None
):
    """Run the EP2 stateful operator (every frame inferred by the
    surrogate) over the fixture stream; keep its session rows.  With a
    processing-time trigger, ``until(rows) -> bool`` polls the memory
    sink and stops as soon as it holds (deadline ``wait_after``) — a
    fixed sleep is flaky under suite-wide CPU contention."""
    name = f"sessions_out_{next(_RUN_COUNTER)}"
    data_dir = str(tmp_path / "stream_in")
    frames_src.write_frame_stream_dir(spark, data_dir, n_files=4)
    stream = (
        spark.readStream.schema(frames_src.FRAME_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(data_dir)
    )
    out = sp.fire_detection_stream(
        stream.select("video_id", "frame_number"), gap=GAP, timeout_ms=timeout_ms
    ).where("row_type = 'session'")
    kwargs = {"availableNow": True} if trigger is None else {"processingTime": trigger}
    query = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(**kwargs)
        .start()
    )
    if trigger is None:
        query.awaitTermination(120)
    else:
        deadline = time.monotonic() + wait_after
        while time.monotonic() < deadline:
            if until is not None and until(rows(spark.sql(f"SELECT * FROM {name}"))):
                break
            time.sleep(0.5)
        query.stop()
        query.awaitTermination(60)
    return spark.sql(f"SELECT * FROM {name}")


def test_streaming_gap_sessions_match_batch(spark, tmp_path):
    """Closed-by-gap streaming sessions must equal the batch
    sessionization on the same frames (exact parity, W2)."""
    streamed = {
        (r["video_id"], r["session_id"]): r
        for r in rows(_run_stream(spark, tmp_path))
        if r["closed_by"] == "gap"
    }
    batch = _with_pred(frames_src.synthetic_frames(spark))
    bsess = with_session_id(batch, "video_id", "frame_number", gap=GAP)
    bstats = {
        (r["video_id"], r["session_id"]): r
        for r in rows(session_stats(bsess, "video_id", "frame_number"))
    }
    # every key's non-final batch session must appear, value-identical
    last_per_key = {}
    for vid, sid in bstats:
        last_per_key[vid] = max(last_per_key.get(vid, 0), sid)
    expected_closed = {
        k: v for k, v in bstats.items() if k[1] < last_per_key[k[0]]
    }
    assert set(streamed) == set(expected_closed)
    assert expected_closed  # the gap video guarantees at least one
    for k, exp in expected_closed.items():
        got = streamed[k]
        for col in ("total_frames", "fire_count", "max_fire_probability", "first_seq", "last_seq"):
            assert got[col] == exp[col], (k, col, got[col], exp[col])


class _FakeGroupState:
    """GroupState stand-in: the calls the stateful operator makes."""

    def __init__(self):
        self.v, self.hasTimedOut, self.timeout_ms = None, False, None

    @property
    def exists(self):
        return self.v is not None

    @property
    def get(self):
        return self.v

    def update(self, v):
        self.v = tuple(v)

    def remove(self):
        self.v = None

    def setTimeoutDuration(self, ms):
        self.timeout_ms = ms


def test_pipeline_fn_session_fold():
    """`_pipeline_fn` with every frame inferred by a model that returns
    the fixture's predictions: over a cross-batch gap, an in-batch
    out-of-order row and a jump of exactly `gap`, it emits one
    gap-closed row and holds the open session's six fields; a timeout
    then flushes the open session from state (W4) and removes it.  No
    Spark needed."""
    import pandas as pd

    gap, timeout_ms = 10, 1_000
    batches = [
        pd.DataFrame(  # frame 1 arrives after 3: sorted within the batch
            {"frame_number": [3, 1, 2], "has_fire": [True, False, True],
             "fire_probability": [0.9, 0.0, 0.6]}
        ),
        pd.DataFrame(  # 3 -> 20 jumps the gap: session 1 closes
            {"frame_number": [20, 21], "has_fire": [False, True],
             "fire_probability": [0.0, 0.7]}
        ),
        pd.DataFrame(  # exactly-gap jump (31-21=10): same session
            {"frame_number": [31], "has_fire": [False],
             "fire_probability": [0.0]}
        ),
    ]
    truth = pd.concat(batches).set_index("frame_number")

    def predict_fn(seq):
        return (truth.loc[seq, "has_fire"].to_numpy(bool),
                truth.loc[seq, "fire_probability"].to_numpy(float))

    fn, gs = sp._pipeline_fn(gap, 1, timeout_ms, predict_fn), _FakeGroupState()

    def drive(frames):
        return [r for pdf in fn(("vid",), iter([frames]), gs)
                for r in pdf.to_dict("records")]

    out = []
    for b in batches:
        out += drive(b[["frame_number"]].copy())

    session_cols = ["row_type", "video_id", "session_id", "total_frames",
                    "fire_count", "max_fire_probability", "first_seq",
                    "last_seq", "closed_by"]

    def sessions(rows_):
        return [{c: r[c] for c in session_cols}
                for r in rows_ if r["row_type"] == "session"]

    assert sessions(out) == [
        {"row_type": "session", "video_id": "vid", "session_id": 1,
         "total_frames": 3, "fire_count": 2, "max_fire_probability": 0.9,
         "first_seq": 1, "last_seq": 3, "closed_by": "gap"}
    ]
    frames = [r for r in out if r["row_type"] == "frame"]
    assert [(r["frame_number"], r["session_id"]) for r in frames] == [
        (1, 1), (2, 1), (3, 1), (20, 2), (21, 2), (31, 2)
    ]
    assert gs.v[:6] == (2, 20, 31, 3, 1, 0.7)  # the open session
    assert gs.timeout_ms == timeout_ms

    gs.hasTimedOut = True
    assert sessions(drive(pd.DataFrame())) == [
        {"row_type": "session", "video_id": "vid", "session_id": 2,
         "total_frames": 3, "fire_count": 1, "max_fire_probability": 0.7,
         "first_seq": 20, "last_seq": 31, "closed_by": "timeout"}
    ]
    assert not gs.exists

    # carried columns: out-of-order frames, a gap closing session 1 in
    # the same batch; each value stays with its frame, session rows
    # hold null there and frame rows null in the session-only columns
    fn, gs = sp._pipeline_fn(gap, 1, None, predict_fn, ("width",)), _FakeGroupState()
    out = pd.DataFrame(drive(pd.DataFrame({"frame_number": [3, 20, 1, 21, 2],
                                           "width": [30, 200, 10, 210, 20]})))
    frames, s1 = out[out.row_type == "frame"], out[out.row_type == "session"]
    assert frames[["frame_number", "width", "session_id"]].values.tolist() == [
        [1, 10, 1], [2, 20, 1], [3, 30, 1], [20, 200, 2], [21, 210, 2]
    ]
    assert frames.closed_by.isna().all() and s1.last_seq.tolist() == [3]
    assert s1[["frame_number", "width"]].isna().all(axis=None)


def test_streaming_timeout_flushes_open_sessions(spark, tmp_path):
    """W4 shutdown-flush analog: with a short state timeout and a
    running processing-time trigger, every open session is emitted as
    closed_by='timeout'."""
    all_vids = {"dense", "sampled", "gapvid", "inter_a", "inter_b", "short", "dup"}

    def flushed(out):
        return all_vids <= {r["video_id"] for r in out if r["closed_by"] == "timeout"}

    df = _run_stream(
        spark, tmp_path, timeout_ms=2_000, wait_after=90.0, trigger="1 second",
        until=flushed,
    )
    out = rows(df)
    timed_out = {r["video_id"] for r in out if r["closed_by"] == "timeout"}
    # all seven fixture videos eventually flush their final session
    assert all_vids <= timed_out


def test_duplicate_frames_counted_at_least_once(spark, tmp_path):
    """W5 parity: the reference reprocesses duplicates (at-least-once);
    the dup fixture's repeated frame is counted twice."""
    df = _run_stream(
        spark, tmp_path, timeout_ms=2_000, wait_after=90.0, trigger="1 second",
        until=lambda out: any(r["video_id"] == "dup" for r in out),
    )
    dup = [r for r in rows(df) if r["video_id"] == "dup"]
    assert dup and dup[0]["total_frames"] == 4  # frames 0,1,1,2


def test_drop_duplicates_within_watermark_removes_redelivered(spark, tmp_path):
    """W5's exactly-once UPGRADE twin: the default pipeline keeps the
    reference's at-least-once behavior (the dup fixture counts its
    repeated frame twice, test above); `dropDuplicatesWithinWatermark`
    is the bounded-state dedup — duplicates on (video_id, frame_number)
    inside the watermark are dropped, and unlike plain streaming
    dropDuplicates the key state is EVICTED once the watermark passes
    it, so state stays bounded on an unbounded stream."""
    data_dir = str(tmp_path / "ddw_in")
    frames_src.write_frame_stream_dir(spark, data_dir, n_files=4)
    stream = (
        spark.readStream.schema(frames_src.FRAME_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(data_dir)
    )
    deduped = (
        stream.withColumn("event_time", F.to_timestamp("timestamp"))
        .withWatermark("event_time", "10 minutes")
        .dropDuplicatesWithinWatermark(["video_id", "frame_number"])
        .select("video_id", "frame_number")
    )
    query = (
        deduped.writeStream.format("memory")
        .queryName("ddw_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ddw_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(120)
    out = rows(spark.sql("SELECT * FROM ddw_out WHERE video_id = 'dup'"))
    frames = sorted(r["frame_number"] for r in out)
    assert frames == [0, 1, 2]  # the redelivered frame 1 appears ONCE


def test_watermark_windowed_agg_drops_late_and_finalizes(spark, tmp_path):
    """Streaming tumbling window + watermark (the parity-plus W5/§2.5
    machinery run as a REAL stream, not the batch analog): in append
    mode a window emits exactly when the watermark passes its end, and
    an event older than the watermark is DROPPED — the late row must
    not inflate its already-final window."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tmp = tmp_path / "wm_in"
    tmp.mkdir()
    H = 3600
    batches = [
        [600, 1200, 1 * H + 600],      # W0 gets 2, W1 gets 1
        [3 * H + 1800],                # max 03:30 -> wm becomes 03:00
        [5 * H + 1800, 9 * H],         # W5 +1; max 09:00 -> wm 08:30
        [1800],                        # 00:30 LATE (W0 end < wm) -> dropped
    ]
    for i, secs in enumerate(batches):
        pq.write_table(
            pa.table({"sec": pa.array(secs, type=pa.int64())}),
            f"{tmp}/chunk_{i:03d}.parquet",
        )

    stream = (
        spark.readStream.schema("sec long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp))
        .withColumn("ts", F.timestamp_seconds("sec"))
        .withWatermark("ts", "30 minutes")
    )
    agg = stream.groupBy(F.window("ts", "1 hour").alias("w")).agg(
        F.count(F.lit(1)).alias("n")
    ).select(F.unix_timestamp("w.start").alias("start"), "n")
    q = (
        agg.writeStream.format("memory")
        .queryName("wm_windows")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "wm_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["start"]: r["n"] for r in rows(spark.sql("SELECT * FROM wm_windows"))}
    # late 00:30 dropped -> W0 stays 2 (and is never re-emitted);
    # W0/W1/W3/W5 all finalize once the watermark (08:30 at the final
    # availableNow flush) passes their ends; W9 (end 10:00) never does
    assert got == {0: 2, 1 * H: 1, 3 * H: 1, 5 * H: 1}
    # S6/S8/S9 producer knobs (producer/video_producer.py:57-67)
    assert kafka_src.PRODUCER_OPTIONS["kafka.acks"] == "1"
    assert kafka_src.PRODUCER_OPTIONS["kafka.compression.type"] == "gzip"
    assert kafka_src.PRODUCER_OPTIONS["kafka.batch.size"] == "16384"
    assert kafka_src.PRODUCER_OPTIONS["kafka.linger.ms"] == "10"
    # S7 consumer knobs (streams/stream.py:79-82)
    assert kafka_src.CONSUMER_OPTIONS["kafka.fetch.min.bytes"] == "32768"
    assert kafka_src.CONSUMER_OPTIONS["kafka.max.partition.fetch.bytes"] == str(10 * 1024 * 1024)
    assert kafka_src.CONSUMER_OPTIONS["startingOffsets"] == "earliest"


def test_kafka_builders_are_lazy(spark):
    # no broker in the container: builders must not contact anything
    assert kafka_src.frames_source(spark, "localhost:9092") is not None
    publish = kafka_src.kafka_publisher("localhost:9092")
    # a publish is one batch Kafka write with the producer knobs
    calls = []

    class Writer:  # records.write: logs each builder call
        def __getattr__(self, name):
            return lambda *args: calls.append((name, *args)) or self

    publish(type("Records", (), {"write": Writer()}), kafka_src.DETECTIONS_TOPIC)
    assert calls[0] == ("format", "kafka") and calls[-1] == ("save",)
    assert {k: v for _, k, v in calls[1:-1]} == {
        "kafka.bootstrap.servers": "localhost:9092",
        "topic": "fire-detections",
        **kafka_src.PRODUCER_OPTIONS,
    }


def test_synthetic_frames_patterns(spark):
    df = frames_src.synthetic_frames(spark)
    counts = {r["video_id"]: r["n"] for r in rows(df.groupBy("video_id").agg(F.count("*").alias("n")))}
    assert counts["dense"] == 400 and counts["dup"] == 4
    # sampled video: every 5th frame
    sampled = rows(df.filter(F.col("video_id") == "sampled"), "frame_number")
    assert [r["frame_number"] for r in sampled][:3] == [0, 5, 10]
    # payload determinism: same (video, frame) -> same bytes
    p1 = frames_src._payload("dense", 7)
    assert p1 == frames_src._payload("dense", 7) and len(p1) == 1024
    # short video omits fps (consumer defaults 30.0 downstream)
    short = rows(df.filter(F.col("video_id") == "short").limit(1))
    assert short[0]["fps"] is None


def test_multimodal_decode_plumbing(spark):
    media = spark.createDataFrame(
        [
            (1, "image", b"\xff\xd8fakejpeg", 640, 480),
            (2, "audio", b"RIFFfakewav", None, None),
            (3, "image", None, None, None),
        ],
        multimodal.MEDIA_SCHEMA,
    )
    out = {r["media_id"]: r for r in rows(multimodal.decode_media(media))}
    assert out[1]["width"] == 640 and out[1]["n_bytes"] == 10
    assert out[2]["width"] is not None  # fake-decoded dims are deterministic
    assert out[3]["n_bytes"] is None    # null payload passes through as nulls
    import hashlib
    assert out[1]["content_sha"] == hashlib.sha256(b"\xff\xd8fakejpeg").hexdigest()


def test_multimodal_resize_and_sampling(spark):
    media = spark.createDataFrame(
        [(i, "image", b"x" * 10, 640, 480) for i in range(10)],
        multimodal.MEDIA_SCHEMA,
    )
    resized = multimodal.resize_plan(media, 224, 224)
    assert rows(resized.limit(1))[0]["target_width"] == 224
    sampled = multimodal.sample_every_nth(media, "media_id", 3)
    assert sampled.count() == 4  # 0,3,6,9
