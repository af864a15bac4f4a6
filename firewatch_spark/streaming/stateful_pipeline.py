"""The EP2 stateful operator: inference cadence (M6) + session machine
(W1-W4) in ONE applyInPandasWithState stage — the exact-parity
streaming twin of the reference consumer loop, and the package's only
arbitrary-state operator.

Why one operator: SURVEY.md §7's risk register — "LOCF across
micro-batch boundaries: keep the cadence state inside the same stateful
operator as the session".  `last(..., ignorenulls=True)` works per
batch; only state carries the cached prediction across batches.  The
reference keeps the session fields, the inference-cadence counter and
the last-prediction cache in the same per-video dicts
(streams/stream.py:105-121,366-378):

* key    = video_id — Spark shuffles each key's frames to one task, the
  distributed analog of the reference's per-key dicts;
* state  = the six session fields (session_id, first_seq, last_seen,
  total, fires, max_prob) plus (frame_counter, cached_has_fire,
  cached_prob) — O(1) per key, NEVER buffers frames;
* output = the union of both reference output streams, discriminated
  by ``row_type``: 'frame' rows mirror the detections stream (per
  frame, LOCF-filled), 'session' rows mirror the completions stream,
  one per CLOSED session (W3), emitted when the gap rule fires (W2) or
  on state timeout (W4, the analog of the reference's shutdown flush,
  `_cleanup`, stream.py:427-442).  Every other input column (the P8
  frame metadata: timestamp, fps, width, height) rides along on its own
  frame's row, after the OUTPUT_SCHEMA columns; session rows hold null
  there.

`fold_sessions` is the session state machine (stream.py:340-349).  The
gap is in the **sequence-number domain**, not event time, with a strict
`>` boundary (a jump of exactly `gap` keeps the session).  Rows are
processed in seq order *within* each micro-batch (a stable sort, so
duplicates keep their arrival order), and
`last_seen` is overwritten per row exactly like the reference's dict
update (stream.py:349) — late rows inside the gap are absorbed.

The W4 flush needs a processing-time trigger: a query with an armed
processing-time timer never terminates under ``availableNow``.  Bounded
replays therefore run with ``timeout_ms=None`` (NoTimeout) and close
every real session through the gap rule with a final sentinel frame
per key past ``max_seq + gap``.

The model is injected as a vectorized ``predict_fn(seq: ndarray) ->
(has_fire, prob)`` and called ONLY on cadence-selected rows — the
skip-the-model win the cadence exists for (stream.py:366-378), now
batched: one call per (key, micro-batch) over the inference rows.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

DEFAULT_GAP = 300  # reference stream.py:343

OUTPUT_SCHEMA = StructType(
    [
        StructField("row_type", StringType()),       # 'frame' | 'session'
        StructField("video_id", StringType()),
        StructField("frame_number", LongType()),     # frame rows
        StructField("is_inference", BooleanType()),
        StructField("has_fire", BooleanType()),
        StructField("fire_probability", DoubleType()),
        StructField("session_id", LongType()),       # both row types
        StructField("total_frames", LongType()),     # session rows
        StructField("fire_count", LongType()),
        StructField("max_fire_probability", DoubleType()),
        StructField("first_seq", LongType()),
        StructField("last_seq", LongType()),
        StructField("closed_by", StringType()),      # 'gap' | 'timeout'
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
        # M6 cadence state (reference stream.py:119-121)
        StructField("frame_counter", LongType()),
        StructField("cached_has_fire", BooleanType()),
        StructField("cached_prob", DoubleType()),
    ]
)


def fold_sessions(
    state: "tuple | None",
    seqs: np.ndarray,
    has_fire: np.ndarray,
    prob: np.ndarray,
    gap: int,
) -> tuple[tuple, np.ndarray, list[tuple]]:
    """THE W1–W3 fold of one key's micro-batch.  ``state`` is the six
    session fields of STATE_SCHEMA, or None for an unseen key (W1);
    ``seqs`` is sorted.  Returns the new session fields, each row's
    session id, and the session tuples the gap rule closed (W2), in
    order."""
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
    """The session-row columns of one completion row per session tuple
    in ``closed`` — the one place a closed session becomes a row."""
    sid, first, last, total, fires, maxp = (list(c) for c in zip(*closed))
    return {
        "row_type": "session",
        "video_id": video_id,
        "session_id": sid,
        "total_frames": total,
        "fire_count": fires,
        "max_fire_probability": maxp,
        "first_seq": first,
        "last_seq": last,
        "closed_by": closed_by,
    }


def surrogate_predict_fn(seq: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized surrogate backend (same arithmetic as surrogate.py)."""
    from .. import surrogate

    raw = ((seq.astype("int64") * surrogate.KNUTH) % surrogate.MOD) / float(surrogate.MOD)
    hf = raw >= surrogate.DEFAULT_THRESHOLD
    return hf, np.where(hf, raw, 0.0)


def _pipeline_fn(
    gap: int, every_n: int, timeout_ms: "int | None", predict_fn: Callable,
    carried: tuple[str, ...] = (),
):
    """The per-key function; ``carried`` input columns go onto frame rows."""
    names = [*OUTPUT_SCHEMA.names, *carried]

    def rows(cols: dict) -> pd.DataFrame:
        # the output columns ``cols`` lacks are null
        return pd.DataFrame({**dict.fromkeys(names), **cols})

    def fn(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        video_id = key[0]
        if state.hasTimedOut:
            closed = [state.get[:6]]
            state.remove()
            yield rows(session_columns(video_id, closed, "timeout"))
            return

        if state.exists:
            *session, ctr, c_hf, c_prob = state.get
        else:  # W1 — fresh key; its first row is an inference row
            session, ctr, c_hf, c_prob = None, 0, False, 0.0

        batch = pd.concat(list(pdfs), ignore_index=True)
        seqs = batch["frame_number"].to_numpy("int64")
        order = np.argsort(seqs, kind="stable")  # carried values follow their frame
        seqs = seqs[order]
        n = len(seqs)

        # M6 cadence: inference iff (per-key running counter) % N == 0;
        # the counter continues ACROSS micro-batches via state.
        is_inf = (ctr + np.arange(n)) % every_n == 0

        # one vectorized model call per (key, batch), inference rows
        # only; slot 0 holds the cached prediction from earlier batches
        hf = np.empty(n + 1, dtype=bool)
        prob = np.empty(n + 1, dtype="float64")
        hf[0], prob[0] = c_hf, c_prob
        if is_inf.any():
            hf[1:][is_inf], prob[1:][is_inf] = predict_fn(seqs[is_inf])
        # carry-forward: each row reads the latest inference at or before it
        src = np.maximum.accumulate(np.where(is_inf, np.arange(1, n + 1), 0))
        hf, prob = hf[src], prob[src]

        # the reference keeps the cadence counter and prediction cache
        # across session closes (stream.py:119-121), so the fold sees
        # the carried-forward values
        session, sids, closed = fold_sessions(session, seqs, hf, prob, gap)
        state.update((*session, ctr + n, bool(hf[-1]), float(prob[-1])))
        if timeout_ms is not None:
            state.setTimeoutDuration(timeout_ms)

        frames = {
            "row_type": "frame", "video_id": video_id, "frame_number": seqs,
            "is_inference": is_inf, "has_fire": hf, "fire_probability": prob,
            "session_id": sids, **{c: batch[c].to_numpy()[order] for c in carried},
        }
        if closed:  # concat fills each row type's missing columns with nulls
            yield pd.concat(
                [pd.DataFrame(frames), pd.DataFrame(session_columns(video_id, closed, "gap"))],
                ignore_index=True,
            )
        else:
            yield rows(frames)

    return fn


def fire_detection_stream(
    frames: DataFrame,
    gap: int = DEFAULT_GAP,
    inference_every_n: int = 1,
    timeout_ms: "int | None" = 60_000,
    predict_fn: Callable = surrogate_predict_fn,
    key: str = "video_id",
) -> DataFrame:
    """EP2 in one stateful stage: frames (video_id, frame_number, ...) →
    per-frame detection rows (cadence+LOCF applied) + session
    completion rows, exactly like the reference consumer loop.

    The output schema is OUTPUT_SCHEMA followed by the input's other
    columns (not the key, ``frame_number`` or an OUTPUT_SCHEMA name),
    nullable, filled on frame rows only; a ``(video_id, frame_number)``
    input yields exactly OUTPUT_SCHEMA.

    Requires a streaming DataFrame; output mode `append` at the sink.
    ``timeout_ms=None`` → NoTimeout (no W4 idle flush); required for
    ``availableNow`` replays to terminate: Spark keeps a query with a
    pending ProcessingTimeTimeout timer alive for future timers, so a
    timer-armed replay burns its whole awaitTermination budget."""
    carried = [
        StructField(f.name, f.dataType)
        for f in frames.schema.fields
        if f.name not in (key, "frame_number", *OUTPUT_SCHEMA.names)
    ]
    return frames.groupBy(key).applyInPandasWithState(
        _pipeline_fn(
            gap, inference_every_n, timeout_ms, predict_fn, tuple(f.name for f in carried)
        ),
        outputStructType=StructType(OUTPUT_SCHEMA.fields + carried),
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.NoTimeout
            if timeout_ms is None
            else GroupStateTimeout.ProcessingTimeTimeout
        ),
    )
