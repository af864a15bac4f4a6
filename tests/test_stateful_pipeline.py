"""EP2 stateful operator: cadence counter + LOCF continuity across
micro-batch boundaries (the SURVEY §7 risk-register case) and across a
stop/restart on the same checkpoint."""

from pyspark.sql import functions as F

from firewatch_spark import surrogate
from firewatch_spark.operators.cadence import with_inference_cadence
from firewatch_spark.streaming.replay import replay
from firewatch_spark.streaming.stateful_pipeline import (
    OUTPUT_SCHEMA,
    fire_detection_stream,
)
from tests.conftest import rows


def _run(spark, pdf, every_n, n_files, extra=""):
    """Replay `pdf` split into `n_files` row chunks, one micro-batch
    each; ``extra`` is the DDL of its columns after the first two."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    def feed(reader, tmp):
        data_dir = os.path.join(tmp, "in")
        os.mkdir(data_dir)
        per = (len(pdf) + n_files - 1) // n_files
        written = []
        for i in range(n_files):
            chunk = pdf.iloc[i * per : (i + 1) * per]
            if not chunk.empty:
                path = os.path.join(data_dir, f"c_{i:03d}.parquet")
                pq.write_table(pa.Table.from_pandas(chunk), path)
                written.append(path)
        # the FileStreamSource replays in modification-time order and the
        # chunks are written within one clock tick — force strictly
        # increasing mtimes or a tie can reorder micro-batches
        base = int(os.path.getmtime(written[0]))
        for i, p in enumerate(written):
            os.utime(p, (base + i, base + i))
        stream = reader.schema("video_id string, frame_number long" + extra).parquet(
            data_dir
        )
        # NoTimeout: availableNow never terminates with an armed
        # processing-time timer; these tests only assert gap/frame rows
        out = fire_detection_stream(
            stream, gap=300, inference_every_n=every_n, timeout_ms=None
        )
        return out, lambda b: b

    return replay(spark, feed)


def test_cadence_counter_survives_batch_boundary(spark):
    """Frames split 7/7 across two micro-batches with N=3: the batch
    boundary falls mid-cadence; inference positions must be the global
    1,4,7,10,13 — not restart at the boundary."""
    import pandas as pd

    pdf = pd.DataFrame({"video_id": ["v"] * 14, "frame_number": range(14)})
    out = rows(
        _run(spark, pdf, every_n=3, n_files=2).filter(
            F.col("row_type") == "frame"
        ),
        "frame_number",
    )
    inf_frames = [r["frame_number"] for r in out if r["is_inference"]]
    assert inf_frames == [0, 3, 6, 9, 12]
    # streaming per-frame output equals the batch M6 operator exactly
    batch_df = spark.createDataFrame(pdf)
    raw = surrogate.raw_probability(F.col("frame_number"))
    batch_df = batch_df.withColumn("has_fire", surrogate.has_fire(raw)).withColumn(
        "fire_probability", surrogate.fire_probability(raw)
    )
    expected = rows(
        with_inference_cadence(
            batch_df, "video_id", "frame_number",
            ["has_fire", "fire_probability"], every_n=3,
        ),
        "frame_number",
    )
    for got, exp in zip(out, expected):
        assert got["is_inference"] == exp["is_inference"]
        assert got["has_fire"] == exp["has_fire"]
        assert got["fire_probability"] == exp["fire_probability"], got["frame_number"]


def test_locf_prediction_carried_across_batches(spark):
    """N larger than the first batch: every row of batch 2 before the
    next inference point must reuse batch 1's cached prediction."""
    import pandas as pd

    pdf = pd.DataFrame({"video_id": ["v"] * 6, "frame_number": range(6)})
    out = rows(
        _run(spark, pdf, every_n=5, n_files=3).filter(
            F.col("row_type") == "frame"
        ),
        "frame_number",
    )
    # inference at frames 0 and 5 only; frames 1-4 (spanning batches)
    # carry frame 0's prediction
    p0 = out[0]["fire_probability"]
    assert [r["is_inference"] for r in out] == [True, False, False, False, False, True]
    assert all(r["fire_probability"] == p0 for r in out[1:5])


def test_frame_and_session_rows_consistent(spark):
    """Session rows must aggregate exactly the LOCF-filled frame rows
    (the reference counts stats AFTER cadence reuse, stream.py:380-386)."""
    import pandas as pd

    seqs = list(range(10)) + [400 + i for i in range(5)]  # gap closes session 1
    pdf = pd.DataFrame({"video_id": ["v"] * len(seqs), "frame_number": seqs})
    df = _run(spark, pdf, every_n=2, n_files=2)
    frames = rows(df.filter(F.col("row_type") == "frame"), "frame_number")
    sessions = rows(df.filter(F.col("row_type") == "session"), "session_id")
    s1 = sessions[0]
    assert s1["closed_by"] == "gap" and s1["total_frames"] == 10
    s1_frames = [r for r in frames if r["session_id"] == 1]
    assert s1["fire_count"] == sum(r["has_fire"] for r in s1_frames)
    assert s1["max_fire_probability"] == max(r["fire_probability"] for r in s1_frames)


def test_carried_columns_stay_with_their_frame(spark):
    """One batch whose frames arrive out of order and whose gap closes
    a session in that same batch: each frame row keeps its own frame's
    timestamp and width (null where the frame's was), session rows hold
    null there, frame rows hold null in the session columns, and the
    collected schema is the declared one."""
    import pandas as pd
    from pyspark.sql.types import StructType

    seqs = [5, 1, 400, 3, 0, 2, 401, 4]  # 400 closes session 0-5
    width = pd.array([None if fn == 3 else 10 * fn for fn in seqs], "Int32")
    pdf = pd.DataFrame({"video_id": "v", "frame_number": seqs,
                        "timestamp": [f"t{fn}" for fn in seqs], "width": width})
    df = _run(spark, pdf, every_n=2, n_files=1, extra=", timestamp string, width int")
    assert df.schema == StructType(
        OUTPUT_SCHEMA.fields + StructType.fromDDL("timestamp string, width int").fields
    )
    out = rows(df, "frame_number")
    (s1,) = [r for r in out if r["row_type"] == "session"]
    assert (s1["first_seq"], s1["last_seq"], s1["closed_by"]) == (0, 5, "gap")
    assert (s1["timestamp"], s1["width"], s1["frame_number"]) == (None, None, None)
    frames = [r for r in out if r["row_type"] == "frame"]
    assert [(r["frame_number"], r["timestamp"], r["width"]) for r in frames] == [
        (fn, f"t{fn}", None if fn == 3 else 10 * fn) for fn in sorted(seqs)
    ]
    assert {r[c] for r in frames for c in OUTPUT_SCHEMA.names[7:]} == {None}


def test_restart_from_checkpoint_matches_uninterrupted_run(spark, tmp_path):
    """Restart contract (SURVEY S13/W4/W6): chunk 0 runs to completion on
    checkpoint C and the query stops; chunk 1 lands and a NEW query
    resumes from C.  The union of both runs' rows must equal one
    uninterrupted run over both chunks.  Video v restarts mid-cadence
    (4 frames done, N=3): frames 4-5 carry frame 3's fire across the
    restart, and v's first session (frames 0-8) spans it before frame
    1000 closes it by gap."""
    import os

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    chunks = [
        pd.DataFrame({"video_id": ["v"] * 4 + ["w"] * 4,
                      "frame_number": [0, 1, 2, 3, 0, 1, 2, 500]}),
        pd.DataFrame({"video_id": ["v"] * 6 + ["w"] * 2,
                      "frame_number": [4, 5, 6, 7, 8, 1000, 501, 2000]}),
    ]
    in_dir, ckpt, sink = (str(tmp_path / d) for d in ("in", "ckpt", "sink"))
    os.mkdir(in_dir)
    for i, chunk in enumerate(chunks):
        pq.write_table(pa.Table.from_pandas(chunk), f"{in_dir}/c_{i}.parquet")
        stream = spark.readStream.schema("video_id string, frame_number long").parquet(
            in_dir
        )
        out = fire_detection_stream(stream, gap=300, inference_every_n=3, timeout_ms=None)
        q = (
            out.writeStream.foreachBatch(
                lambda b, bid, i=i: b.write.parquet(f"{sink}/run={i}/batch_id={bid}")
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            assert q.awaitTermination(120), f"run {i} did not drain"
        finally:
            q.stop()

    restarted = spark.read.parquet(sink)
    # each run saw only its own chunk's frames
    run_frames = rows(
        restarted.where("row_type = 'frame'").groupBy("run").count(), "run"
    )
    assert [(r["run"], r["count"]) for r in run_frames] == [(0, 8), (1, 8)]

    def table(df):
        return sorted(map(tuple, df.select(*OUTPUT_SCHEMA.names).collect()), key=repr)

    whole = _run(spark, pd.concat(chunks, ignore_index=True), every_n=3, n_files=1)
    assert table(restarted) == table(whole)

    v = {r["frame_number"]: r for r in rows(restarted.where(
        "row_type = 'frame' AND video_id = 'v'"))}
    assert [v[f]["is_inference"] for f in (3, 4, 5, 6)] == [True, False, False, True]
    assert v[4]["has_fire"] and v[4]["fire_probability"] == v[3]["fire_probability"]
    (s1,) = rows(restarted.where(
        "row_type = 'session' AND video_id = 'v' AND session_id = 1"))
    assert (s1["first_seq"], s1["last_seq"], s1["closed_by"]) == (0, 8, "gap")
    assert s1["fire_count"] == 3  # frame 3 plus its two carried frames
