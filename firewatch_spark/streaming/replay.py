"""Bounded file-stream replays: the one harness every streaming twin
runs on, plus the Spark-side chunk writer that feeds it.

`replay(spark, feed)` contract:

- **Scope.** It makes one ``fw_replay_*`` temp dir and sets
  ``spark.sql.shuffle.partitions`` to the session's
  ``defaultParallelism`` for the duration of the call.  On return or
  raise, in ``finally``, it stops the query, restores the prior
  shuffle-partition value and removes the temp dir, so a replay leaks
  no running stream, no session conf, no catalog table and no files.
- **One partition per core.** The shuffle-partition count is the
  number of state-store instances, and so of Python tasks, that a
  stateful operator runs per micro-batch.  Each such task pays a fixed
  Python cost whatever its row count: on CPython 3.11 pyspark's task
  setup calls ``importlib.invalidate_caches()``, after which the
  cached zipimporter re-reads all of ``pyspark.zip``'s directory, about
  0.1 s of CPU a time.  More tasks than cores only add that cost.
  State is per key, so the output does not depend on the count.
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
- **Result.** The union of batch outputs, read back and cut with
  ``operators.util.materialize`` (eagerly) before the temp dir goes,
  without the ``batch_id`` column.

`write_replay_chunks` writes the replay input: chunks by *value range*
of an ordering column, written by one Spark job.  The stateful
operators only require that each key's frames arrive in non-decreasing
order ACROSS micro-batches (within a batch they sort); non-overlapping
increasing ranges guarantee that, so the replay output is invariant to
where the boundaries fall.  For the same reason a row that must come
after all of its key's rows (a gap-close sentinel, say) needs no batch
of its own: a larger value lands in the same chunk or a later one.
The FileStreamSource picks files by modification time, so the chunk
mtimes are forced strictly increasing in chunk order.
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

from ..operators.util import materialize

DRAIN_TIMEOUT_S = 300
_SHUFFLE = "spark.sql.shuffle.partitions"

Body = Callable[[DataFrame], DataFrame]


def replay(
    spark: SparkSession,
    feed: Callable[[DataStreamReader, str], tuple[DataFrame, Body]],
) -> DataFrame:
    """Drain the stream `feed` opens through the one foreachBatch sink
    and return its output, materialized (contract: module docstring)."""
    prior = spark.conf.get(_SHUFFLE)
    tmp = tempfile.mkdtemp(prefix="fw_replay_")
    sink = os.path.join(tmp, "_sink")
    query = None
    try:
        spark.conf.set(_SHUFFLE, str(spark.sparkContext.defaultParallelism))
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
        return materialize(spark.read.parquet(sink).drop("batch_id"))
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
) -> list[str]:
    """Write `df` as up to `n_chunks` single-file parquet chunks under
    `tmp` (``chunk_000.parquet`` …), partitioned into non-overlapping
    increasing ranges of `order_col`.  Returns the written paths in
    replay order.

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
    # strictly increasing mtimes pin the FileStreamSource replay order
    base = int(os.path.getmtime(paths[0])) if paths else 0
    for i, p in enumerate(paths):
        os.utime(p, (base + i, base + i))
    return paths

