"""Per-key and global aggregations — A1-A7 from SURVEY.md §2.4.

All of these were hand-maintained dict counters in the reference's
consumer loop; in Spark each is a declarative aggregation with automatic
partial (map-side) aggregation, so they scale linearly with executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def completion_stats(
    df: DataFrame,
    key: str,
    seq: str,
    has_fire: str = "has_fire",
    fire_probability: str = "fire_probability",
) -> DataFrame:
    """A1 + A2 — the running per-video stats that seed the completion
    event (streams/stream.py:163,380-386 and :332-335): frame count,
    fire count, max reported probability, max sequence number seen."""
    return df.groupBy(key).agg(
        F.count(F.lit(1)).alias("total_frames"),
        F.sum(F.col(has_fire).cast("long")).alias("fire_count"),
        F.max(fire_probability).alias("max_fire_probability"),
        F.max(seq).alias("max_seq"),
    )


def global_counters(df: DataFrame, has_fire: str = "has_fire") -> DataFrame:
    """A7 — whole-stream message/detection/fire counters
    (streams/stream.py:459-461,518-526), as a keyless batch aggregate
    (single partial-agg reduce, no shuffle of data).  The streaming
    path does not count them yet: named ``df.observe(...)`` metrics on
    the EP2 stateful output are ROADMAP.md open item 3."""
    return df.agg(
        F.count(F.lit(1)).alias("message_count"),
        F.sum(F.col(has_fire).cast("long")).alias("fire_count"),
        F.sum((~F.col(has_fire)).cast("long")).alias("no_fire_count"),
    )


def frames_written(
    df: DataFrame, key: str, written_flag: "str | None" = None
) -> DataFrame:
    """A3 — per-video count of frames actually written to the MP4 sink
    (reference streams/stream.py:393-395).  ``written_flag`` names an
    optional boolean column marking sink acceptance (the reference
    increments only after a successful `writer.write`); absent, every
    row counts."""
    flag = F.col(written_flag).cast("long") if written_flag else F.lit(1)
    return df.groupBy(key).agg(F.sum(flag).alias("frames_written"))


def last_frame(
    df: DataFrame, key: str, seq: str, frame_col: str
) -> DataFrame:
    """A4 — most recent frame payload per video (reference
    streams/stream.py:110,396; re-written at finalize to flush codec
    buffers, video_writer.py:112-117).  `max_by` keeps exactly one
    payload per key through the partial/final aggregation — the
    shuffle carries one frame per key per map task, never the
    stream."""
    return df.groupBy(key).agg(
        F.max_by(frame_col, seq).alias("last_frame"),
        F.max(seq).alias("last_seq"),
    )


def expected_frame_count(
    df: DataFrame,
    key: str,
    seq: str,
    interval: int,
    source_total: "str | None" = None,
) -> DataFrame:
    """A5 — producer-side expected-frame arithmetic
    (reference scripts/test_with_videos.py:44-54): ceil(total/interval)
    via pure-integer floor-div + remainder bump.

    ``source_total`` names a column holding the pre-sampling source
    frame count (the reference reads it from container metadata).  When
    absent, the observed per-key row count is used — correct for dense
    streams, documented divergence for pre-sampled ones.
    """
    if source_total is not None:
        out = df.groupBy(key).agg(F.max(source_total).cast("long").alias("source_frames"))
    else:
        out = df.groupBy(key).agg(F.count(F.lit(1)).alias("source_frames"))
    # integer domain throughout (no double rounding at large counts)
    return out.withColumn(
        "expected_frames",
        F.expr(f"(source_frames div {interval}) + CAST(source_frames % {interval} > 0 AS BIGINT)"),
    )


def with_progress_pct(
    df: DataFrame,
    key: str,
    seq: str,
    total_col: str,
    pct_col: str = "progress_pct",
    producer_pct_col: "str | None" = None,
) -> DataFrame:
    """A6 — monotone, capped progress percentage
    (reference streams/pipeline/progress.py:74-95,125-131): at each row,
    pct = min(done*100 div total, producer_progress, 100), forced
    monotone non-decreasing with a running max.

    Pure-integer division (`div`) — float floor can disagree with
    integer arithmetic at large counts.  ``producer_pct_col`` carries
    the reference's producer-progress cap; in batch there is often no
    producer analogue, in which case the cap is omitted (documented
    divergence, reference cap at progress.py:80-84).
    """
    w = Window.partitionBy(key).orderBy(seq)
    df = df.withColumn("_done", F.row_number().over(w).cast("long"))
    caps = [F.expr(f"(_done * 100) div {total_col}"), F.lit(100).cast("long")]
    if producer_pct_col is not None:
        caps.append(F.col(producer_pct_col).cast("long"))
    raw_pct = F.least(*caps)
    monotone = F.max(raw_pct).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(pct_col, monotone.cast("long")).drop("_done")
