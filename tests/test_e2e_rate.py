"""EP2 topology end-to-end from a LIVE unbounded source.

No Kafka broker is available to the tests, so the transport endpoints
are swapped: the `rate` source stands in for `frames_source` and a
memory sink receives the EXACT record projection `kafka_publisher`
would send (`kafka_key_value`).  Everything between source and sink —
the one-operator cadence+session state machine and the key/value
framing — is the production code path; the Kafka builders themselves
are option-parity- and laziness-tested in test_streaming.py.  Reference
behavior under test: the stream.py:444-582 run loop wired end-to-end.
"""

import json
import time

from pyspark.sql import functions as F

from firewatch_spark import surrogate
from firewatch_spark.sources import kafka as kafka_src
from firewatch_spark.streaming.stateful_pipeline import fire_detection_stream


def test_rate_source_ep2_topology_end_to_end(spark, tmp_path):
    rate = (
        spark.readStream.format("rate").option("rowsPerSecond", "300").load()
    )
    # frame projection: 3 interleaved videos, per-video increasing
    # frame_number — the shape frames_source yields after decode
    frames = rate.select(
        (F.col("value") % 3).cast("string").alias("video_id"),
        F.expr("value div 3").alias("frame_number"),
    )
    out = fire_detection_stream(
        frames, gap=300, inference_every_n=3, timeout_ms=None
    )
    frame_rows = out.filter(F.col("row_type") == "frame").select(
        "video_id",
        F.to_json(
            F.struct("video_id", "frame_number", "is_inference", "has_fire",
                     "fire_probability")
        ).alias("payload"),
    )
    kv = kafka_src.kafka_key_value(frame_rows, "video_id", "payload")

    q = (
        kv.writeStream.format("memory")
        .queryName("rate_ep2")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        # poll with a deadline (never fixed sleeps — CPU contention)
        deadline = time.monotonic() + 120
        while time.monotonic() < deadline:
            if spark.sql("SELECT * FROM rate_ep2").count() >= 100:
                break
            time.sleep(1)
        got = [r.asDict() for r in spark.sql("SELECT * FROM rate_ep2").collect()]
    finally:
        q.stop()

    assert len(got) >= 100, "rate-source EP2 produced too few records"
    # the sink projection contract: utf-8 key = video_id, string value
    assert set(got[0]) == {"key", "value"}
    assert {r["key"] for r in got} == {"0", "1", "2"}

    payloads = [json.loads(r["value"]) for r in got]
    assert set(payloads[0]) == {
        "video_id", "frame_number", "is_inference", "has_fire", "fire_probability"
    }
    # cadence + surrogate semantics hold across micro-batches: every
    # inference row carries the surrogate probability of ITS OWN frame
    # (non-inference rows are LOCF copies checked by the parity gate)
    inf = [p for p in payloads if p["is_inference"]]
    assert inf, "no inference rows seen"
    for p in inf:
        raw = ((p["frame_number"] * surrogate.KNUTH) % surrogate.MOD) / float(
            surrogate.MOD
        )
        expected = raw if raw >= 0.5 else 0.0
        assert p["fire_probability"] == expected
        assert p["has_fire"] == (raw >= 0.5)
    # per-video frame numbers are emitted in order within the stream
    for vid in ("0", "1", "2"):
        seq = [p["frame_number"] for p in payloads if p["video_id"] == vid]
        assert seq == sorted(seq)
