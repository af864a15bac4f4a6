"""Streaming gap-sessionization with arbitrary state — the exact-parity
twin of operators/sessions.py (W1-W4 from SURVEY.md §2.5).

The reference holds per-video dicts in its consumer loop
(streams/stream.py:105-121) and closes a session only when the next
frame arrives with `frame_number - last_seen > gap`
(streams/stream.py:340-349) or on shutdown (`_cleanup`, :427-442).
`fold_sessions` is that state machine, once; both stateful operators
(`sessionize_stream` here and `stateful_pipeline.fire_detection_stream`)
run it inside ``applyInPandasWithState``:

* key          = video_id — Spark shuffles each key's frames to one
  task, the distributed analog of the reference's per-key dicts;
* state        = (session_id, first_seq, last_seen, total, fires,
  max_prob) — O(1) per key, NEVER buffers frames;
* output       = one completion row per CLOSED session (W3), built by
  `session_columns`, emitted when the gap rule fires (W2) or on state
  timeout (W4, the analog of the reference's shutdown flush).

The W4 flush needs a processing-time trigger: a query with an armed
processing-time timer never terminates under ``availableNow``.  Bounded
replays therefore run with ``timeout_ms=None`` (NoTimeout) and close
every real session through the gap rule with a final sentinel frame
per key past ``max_seq + gap``.

The gap is in the **sequence-number domain**, not event time: exact
parity with the reference, strict `>` boundary (a jump of exactly
`gap` keeps the session).

Out-of-order handling matches the reference: rows are processed in
seq order *within* each micro-batch (sort), and `last_seen` is
overwritten per row exactly like the reference's dict update
(stream.py:349) — late rows inside the gap are absorbed.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

DEFAULT_GAP = 300  # reference stream.py:343

OUTPUT_SCHEMA = StructType(
    [
        StructField("video_id", StringType()),
        StructField("session_id", LongType()),
        StructField("total_frames", LongType()),
        StructField("fire_count", LongType()),
        StructField("max_fire_probability", DoubleType()),
        StructField("first_seq", LongType()),
        StructField("last_seq", LongType()),
        StructField("closed_by", StringType()),  # 'gap' | 'timeout'
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("session_id", LongType()),
        StructField("first_seq", LongType()),
        StructField("last_seen", LongType()),
        StructField("total_frames", LongType()),
        StructField("fire_count", LongType()),
        StructField("max_fire_probability", DoubleType()),
    ]
)


def fold_sessions(
    state: "tuple | None",
    seqs: np.ndarray,
    has_fire: np.ndarray,
    prob: np.ndarray,
    gap: int,
) -> tuple[tuple, np.ndarray, list[tuple]]:
    """THE W1–W3 fold of one key's micro-batch.  ``state`` is the
    STATE_SCHEMA tuple, or None for an unseen key (W1); ``seqs`` is
    sorted.  Returns the new state, each row's session id, and the
    state tuples of the sessions the gap rule closed (W2), in order."""
    sid, first, last, total, fires, maxp = state or (1, None, None, 0, 0, 0.0)
    sids = np.empty(len(seqs), dtype="int64")
    closed: list[tuple] = []
    for i, (seq, hf, p) in enumerate(zip(seqs.tolist(), has_fire.tolist(), prob.tolist())):
        if last is not None and seq - last > gap:  # W2: strict >
            closed.append((sid, first, last, total, fires, maxp))
            sid, first, total, fires, maxp = sid + 1, None, 0, 0, 0.0
        if first is None:
            first = seq
        last = seq  # unconditional overwrite (stream.py:349)
        total += 1
        if hf:
            fires += 1
            maxp = max(maxp, p)
        sids[i] = sid
    return (sid, first, last, total, fires, maxp), sids, closed


def session_columns(video_id: str, closed: list[tuple], closed_by: str) -> dict:
    """OUTPUT_SCHEMA columns of one completion row per STATE_SCHEMA
    tuple in ``closed`` — the one place a closed session becomes a row."""
    sid, first, last, total, fires, maxp = (list(c) for c in zip(*closed))
    return {
        "video_id": video_id,
        "session_id": sid,
        "total_frames": total,
        "fire_count": fires,
        "max_fire_probability": maxp,
        "first_seq": first,
        "last_seq": last,
        "closed_by": closed_by,
    }


def _session_fn(gap: int, timeout_ms: "int | None"):
    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        video_id = key[0]
        if state.hasTimedOut:  # W4: no frames for `timeout_ms`
            closed = [state.get]
            state.remove()
            yield pd.DataFrame(session_columns(video_id, closed, "timeout"))
            return

        batch = pd.concat(list(pdfs), ignore_index=True).sort_values("frame_number")
        new_state, _, closed = fold_sessions(
            state.get if state.exists else None,
            batch["frame_number"].to_numpy("int64"),
            batch["has_fire"].to_numpy(bool),
            batch["fire_probability"].to_numpy("float64"),
            gap,
        )
        state.update(new_state)
        if timeout_ms is not None:
            state.setTimeoutDuration(timeout_ms)
        if closed:
            yield pd.DataFrame(session_columns(video_id, closed, "gap"))

    return fn


def sessionize_stream(
    frames: DataFrame,
    gap: int = DEFAULT_GAP,
    timeout_ms: "int | None" = 60_000,
    key: str = "video_id",
) -> DataFrame:
    """Streaming sessionization: frames (video_id, frame_number,
    has_fire, fire_probability) → completion rows per closed session.

    Requires a streaming DataFrame; output mode `update`/`append` at
    the sink.  State is O(keys), not O(rows).

    ``timeout_ms=None`` disables the W4 idle-timeout flush entirely
    (NoTimeout).  Use it for bounded ``availableNow`` replays that
    close every session via the gap rule: a query with a pending
    ProcessingTimeTimeout timer never terminates under availableNow
    (Spark keeps the query alive for future timers), so a
    timer-armed replay burns its whole awaitTermination budget.
    """
    return frames.groupBy(key).applyInPandasWithState(
        _session_fn(gap, timeout_ms),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.NoTimeout
            if timeout_ms is None
            else GroupStateTimeout.ProcessingTimeTimeout
        ),
    )
