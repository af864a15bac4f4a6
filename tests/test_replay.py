"""Contract tests for streaming/replay.py: the Spark-written
replay-chunk writer and the `replay` harness every streaming twin runs
on (drains, materializes, and leaks nothing on return or raise)."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.streaming.query import StreamingQuery

from firewatch_spark.streaming.replay import replay, write_replay_chunks


def _read_chunk(spark, path):
    return spark.read.parquet(path)


def test_chunks_partition_input_by_increasing_ranges(spark, tmp_path):
    df = spark.range(0, 1000).select(
        (F.col("id") % 7).cast("string").alias("video_id"),
        F.col("id").alias("frame_number"),
    )
    tmp = str(tmp_path / "chunks")
    paths = write_replay_chunks(df, tmp, n_chunks=3)
    assert [os.path.basename(p) for p in paths] == [
        "chunk_000.parquet",
        "chunk_001.parquet",
        "chunk_002.parquet",
    ]
    # union of chunks == input, exactly once
    union = spark.read.parquet(*paths)
    assert union.count() == 1000
    assert union.select("frame_number").distinct().count() == 1000
    # ranges non-overlapping and increasing in replay (mtime) order
    prev_max = None
    prev_mtime = None
    for p in paths:
        stats = _read_chunk(spark, p).agg(
            F.min("frame_number").alias("lo"), F.max("frame_number").alias("hi")
        ).first()
        if prev_max is not None:
            assert stats["lo"] > prev_max
        prev_max = stats["hi"]
        mtime = os.path.getmtime(p)
        if prev_mtime is not None:
            assert mtime > prev_mtime  # FileStreamSource replay order pinned
        prev_mtime = mtime
    # no staging litter
    assert not glob.glob(os.path.join(tmp, "_stage_*"))


def test_empty_chunk_skipped_not_errored(spark, tmp_path):
    # constant order column: every percentile boundary collapses to the
    # same value, so all rows land in chunk 0 and the rest are empty
    df = spark.range(0, 50).select(
        F.lit("v").alias("video_id"), F.lit(7).cast("long").alias("frame_number")
    )
    tmp = str(tmp_path / "chunks")
    paths = write_replay_chunks(df, tmp, n_chunks=3)
    assert len(paths) >= 1
    total = sum(_read_chunk(spark, p).count() for p in paths)
    assert total == 50


def test_session_output_invariant_to_chunk_count(spark, monkeypatch):
    """The design claim replay.py rests on: the stateful session
    operator's output depends only on the frame SET, not on where the
    range boundaries fall — so RangePartitioner's sampled boundaries
    need not be deterministic for the parity hash to hold — nor on the
    state-partition count the harness takes from the session.  Replays
    of the same frames through 1 chunk on 1 partition and 4 chunks on 5
    partitions must emit identical completion rows.  The operator's
    surrogate model makes the predictions a function of frame_number."""
    from firewatch_spark.streaming.stateful_pipeline import fire_detection_stream

    gap = 10
    # two keys, multiple gap-separated sessions, plus a sentinel past
    # the last frame, in the same input, so every real session closes
    # via the gap rule
    frames = [
        ("a", n) for n in [*range(0, 20, 2), *range(100, 110), *range(400, 420, 3)]
    ] + [
        ("b", n) for n in [*range(5, 40, 5), *range(300, 330, 2)]
    ] + [("a", 10_000), ("b", 10_000)]
    df = spark.createDataFrame(frames, "video_id string, frame_number long")

    def run(n_chunks, parallelism):
        monkeypatch.setattr(
            type(spark.sparkContext), "defaultParallelism",
            property(lambda self: parallelism),
        )
        seen = []

        def feed(reader, tmp):
            seen.append(spark.conf.get("spark.sql.shuffle.partitions"))
            write_replay_chunks(df, f"{tmp}/in", n_chunks=n_chunks)
            stream = reader.schema(df.schema).parquet(f"{tmp}/in")
            out = fire_detection_stream(stream, gap=gap, timeout_ms=None)
            return out, lambda b: b.where("row_type = 'session'")

        out = replay(spark, feed)
        assert seen == [str(parallelism)]
        return {
            (r["video_id"], r["session_id"]): (
                r["total_frames"], r["fire_count"], r["max_fire_probability"],
                r["first_seq"], r["last_seq"],
            )
            for r in out.where("closed_by = 'gap'").collect()
        }

    one = run(1, 1)
    four = run(4, 5)
    assert one == four
    assert len({k[0] for k in one}) == 2  # both keys closed sessions
    assert len(one) >= 5  # multiple sessions per key actually exercised


def _counting_feed(spark, seen):
    """30 frames in 3 chunks; each batch lands its per-key counts.
    Records the harness temp dir and the conf the feed ran under."""

    def feed(reader, tmp):
        seen.append((tmp, spark.conf.get("spark.sql.shuffle.partitions")))
        df = spark.range(0, 30).select(
            F.col("id").alias("frame_number"), (F.col("id") % 3).alias("k")
        )
        write_replay_chunks(df, f"{tmp}/in", n_chunks=3)
        stream = reader.schema("frame_number long, k long").parquet(f"{tmp}/in")
        return stream, lambda b: b.groupBy("k").count()

    return feed


@pytest.mark.parametrize("timeout", [False, True], ids=["drained", "timeout"])
def test_replay_leaks_nothing(spark, monkeypatch, timeout):
    """Whether the drain completes or times out, the harness leaves no
    new active stream, no new catalog table, the prior shuffle-partition
    value, and no temp dir behind.  (Streams and tables are compared
    with their state before the call: the session is shared with other
    tests.)"""
    if timeout:
        monkeypatch.setattr(
            StreamingQuery, "awaitTermination", lambda self, timeout=None: False
        )
    # a core count unlike the session's shuffle setting, so both the
    # scoping and the restore show
    monkeypatch.setattr(
        type(spark.sparkContext), "defaultParallelism", property(lambda self: 3)
    )
    prior = spark.conf.get("spark.sql.shuffle.partitions")
    assert prior != "3"
    streams = {q.id for q in spark.streams.active}
    tables = {t.name for t in spark.catalog.listTables()}
    seen = []
    if timeout:
        with pytest.raises(TimeoutError):
            replay(spark, _counting_feed(spark, seen))
    else:
        out = replay(spark, _counting_feed(spark, seen))
        assert out.columns == ["k", "count"]
        assert out.agg(F.sum("count")).first()[0] == 30
    [(tmp, scoped)] = seen
    assert scoped == str(spark.sparkContext.defaultParallelism) == "3"
    assert {q.id for q in spark.streams.active} == streams
    assert spark.conf.get("spark.sql.shuffle.partitions") == prior
    assert not os.path.exists(tmp)
    assert {t.name for t in spark.catalog.listTables()} == tables
