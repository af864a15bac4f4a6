"""Bounded file-stream replays: the one harness every streaming twin
runs on, plus the Spark-side chunk writer that feeds it.

`replay(spark, feed, shuffle_partitions)` contract:

- **Scope.** It makes one ``fw_replay_*`` temp dir and sets
  ``spark.sql.shuffle.partitions`` for the duration of the call.  On
  return or raise, in ``finally``, it stops the query, restores the
  prior shuffle-partition value and removes the temp dir, so a replay
  leaks no running stream, no session conf, no catalog table and no
  files.
- **Feed.** ``feed(reader, tmp)`` is the caller's part: it writes its
  input under ``tmp``, opens the stream from ``reader`` (a
  ``readStream`` with ``maxFilesPerTrigger=1``, so each input file is
  one micro-batch) with its own schema and format, applies any
  streaming transform (a stateful operator, say), and returns
  ``(stream, body)``.  ``body`` maps one micro-batch to its output
  rows; a stateful twin passes the identity.  Names under ``tmp``
  starting with ``_`` belong to the harness.
- **Sink.** One path: ``foreachBatch``, where batch N overwrites its
  own ``batch_id=N`` parquet dir, so a redelivered batch replaces its
  rows instead of appending duplicates.
- **Drain.** The query runs with ``availableNow`` and must terminate
  within ``DRAIN_TIMEOUT_S``; otherwise `replay` raises
  ``TimeoutError`` rather than return a truncated table.
- **Result.** The union of batch outputs, read back and
  ``localCheckpoint``-ed before the temp dir goes, without the
  ``batch_id`` column.

`write_replay_chunks` writes the replay input: chunks by *value range*
of an ordering column, written by one Spark job.  The stateful
operators only require that each key's frames arrive in non-decreasing
order ACROSS micro-batches (within a batch they sort); non-overlapping
increasing ranges guarantee that, so the replay output is invariant to
where the boundaries fall.  The FileStreamSource picks files by
modification time, so the chunk mtimes are forced strictly increasing
in chunk order.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamReader

DRAIN_TIMEOUT_S = 300
_SHUFFLE = "spark.sql.shuffle.partitions"

Body = Callable[[DataFrame], DataFrame]


def replay(
    spark: SparkSession,
    feed: Callable[[DataStreamReader, str], tuple[DataFrame, Body]],
    shuffle_partitions: int = 32,
) -> DataFrame:
    """Drain the stream `feed` opens through the one foreachBatch sink
    and return its output, materialized (contract: module docstring).
    `shuffle_partitions` bounds per-batch shuffle and state-store cost
    on a vanilla 200-partition session."""
    prior = spark.conf.get(_SHUFFLE)
    tmp = tempfile.mkdtemp(prefix="fw_replay_")
    sink = os.path.join(tmp, "_sink")
    query = None
    try:
        spark.conf.set(_SHUFFLE, str(shuffle_partitions))
        stream, body = feed(spark.readStream.option("maxFilesPerTrigger", 1), tmp)

        def run_batch(batch_df: DataFrame, batch_id: int) -> None:
            body(batch_df).write.mode("overwrite").parquet(
                f"{sink}/batch_id={batch_id}"
            )

        query = (
            stream.writeStream.foreachBatch(run_batch)
            .option("checkpointLocation", os.path.join(tmp, "_checkpoint"))
            .trigger(availableNow=True)
            .start()
        )
        if not query.awaitTermination(DRAIN_TIMEOUT_S):
            raise TimeoutError(f"replay did not drain in {DRAIN_TIMEOUT_S}s")
        return spark.read.parquet(sink).drop("batch_id").localCheckpoint()
    finally:
        if query is not None:
            query.stop()
        spark.conf.set(_SHUFFLE, prior)
        shutil.rmtree(tmp, ignore_errors=True)


def write_replay_chunks(
    df: DataFrame,
    tmp: str,
    order_col: str = "frame_number",
    n_chunks: int = 3,
    sentinel: DataFrame | None = None,
) -> list[str]:
    """Write `df` as up to `n_chunks` single-file parquet chunks under
    `tmp` (``chunk_000.parquet`` …), partitioned into non-overlapping
    increasing ranges of `order_col`; an optional `sentinel` DataFrame
    (same schema) becomes the final ``chunk_999.parquet`` batch.
    Returns the written paths in replay order.

    ONE Spark job writes every chunk: ``repartitionByRange(n_chunks,
    order_col)`` range-partitions the rows (RangePartitioner samples
    the boundaries internally — the replay result is invariant to
    where they fall, see module docstring) and output file
    ``part-0000i`` IS range partition i, so renaming the part files in
    name order yields the chunks in range order.  Empty ranges write
    no part file and are skipped."""
    os.makedirs(tmp, exist_ok=True)
    staging = os.path.join(tmp, "_stage_chunks")
    df.repartitionByRange(n_chunks, F.col(order_col)).write.mode(
        "overwrite"
    ).parquet(staging)
    parts = sorted(glob.glob(os.path.join(staging, "part-*.parquet")))
    paths: list[str] = []
    for i, part in enumerate(parts):
        out = os.path.join(tmp, f"chunk_{i:03d}.parquet")
        os.replace(part, out)
        paths.append(out)
    shutil.rmtree(staging, ignore_errors=True)
    if sentinel is not None:
        p = _write_single_file(sentinel, tmp, "chunk_999.parquet")
        if p:
            paths.append(p)
    # strictly increasing mtimes pin the FileStreamSource replay order
    base = int(os.path.getmtime(paths[0])) if paths else 0
    for i, p in enumerate(paths):
        os.utime(p, (base + i, base + i))
    return paths


def _write_single_file(piece: DataFrame, tmp: str, name: str) -> str | None:
    """Executor-side write of one chunk, promoted to `tmp/name`.
    ``coalesce(1)`` streams the rows through a single write task —
    bounded fixture scale by construction (a replay chunk), never the
    full-corpus path."""
    staging = os.path.join(tmp, f"_stage_{name}")
    piece.coalesce(1).write.mode("overwrite").parquet(staging)
    parts = glob.glob(os.path.join(staging, "part-*.parquet"))
    out: str | None = None
    if parts:  # an empty chunk writes no part file — skip it
        out = os.path.join(tmp, name)
        os.replace(parts[0], out)
    shutil.rmtree(staging, ignore_errors=True)
    return out
