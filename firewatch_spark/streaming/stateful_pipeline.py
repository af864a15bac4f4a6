"""The full EP2 stateful operator: inference cadence (M6) + session
machine (W1-W4) in ONE applyInPandasWithState stage — the exact-parity
streaming twin of the reference consumer loop.

Why one operator: SURVEY.md §7's risk register — "LOCF across
micro-batch boundaries: keep the cadence state inside the same stateful
operator as the session".  `last(..., ignorenulls=True)` works per
batch; only state carries the cached prediction across batches.  The
reference keeps both the inference-cadence counter and the
last-prediction cache in the same per-video dicts
(streams/stream.py:119-121,366-378); this operator holds the same six
session fields plus (frame_counter, cached_has_fire, cached_prob), and
folds sessions over the carried-forward predictions with
``session_state.fold_sessions``, the fold `sessionize_stream` runs.

The model is injected as a vectorized ``predict_fn(seq: ndarray) ->
(has_fire, prob)`` and called ONLY on cadence-selected rows — the
skip-the-model win the cadence exists for (stream.py:366-378), now
batched: one call per (key, micro-batch) over the inference rows.

Output is the union of both reference output streams, discriminated by
``row_type``: 'frame' rows mirror the detections stream (per frame,
LOCF-filled), 'session' rows mirror the completions stream.
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

from . import session_state as ss

OUTPUT_SCHEMA = StructType(
    [
        StructField("row_type", StringType()),       # 'frame' | 'session'
        StructField("video_id", StringType()),
        StructField("frame_number", LongType()),     # frame rows
        StructField("is_inference", BooleanType()),
        StructField("has_fire", BooleanType()),
        StructField("fire_probability", DoubleType()),
    ]
    # session_id on both row types; the rest on session rows
    + ss.OUTPUT_SCHEMA.fields[1:]
)

STATE_SCHEMA = StructType(
    ss.STATE_SCHEMA.fields
    + [  # M6 cadence state (reference stream.py:119-121)
        StructField("frame_counter", LongType()),
        StructField("cached_has_fire", BooleanType()),
        StructField("cached_prob", DoubleType()),
    ]
)


def surrogate_predict_fn(seq: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized surrogate backend (same arithmetic as surrogate.py)."""
    from .. import surrogate

    raw = ((seq.astype("int64") * surrogate.KNUTH) % surrogate.MOD) / float(surrogate.MOD)
    hf = raw >= surrogate.DEFAULT_THRESHOLD
    return hf, np.where(hf, raw, 0.0)


def _rows(cols: dict) -> pd.DataFrame:
    """An output frame of ``cols``; the OUTPUT_SCHEMA columns it lacks are null."""
    return pd.DataFrame({**dict.fromkeys(OUTPUT_SCHEMA.names), **cols})


def _sessions(video_id: str, closed: list[tuple], closed_by: str) -> dict:
    return {"row_type": "session", **ss.session_columns(video_id, closed, closed_by)}


def _pipeline_fn(gap: int, every_n: int, timeout_ms: "int | None", predict_fn: Callable):
    def fn(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        video_id = key[0]
        if state.hasTimedOut:
            closed = [state.get[:6]]
            state.remove()
            yield _rows(_sessions(video_id, closed, "timeout"))
            return

        if state.exists:
            *session, ctr, c_hf, c_prob = state.get
        else:  # W1 — fresh key; its first row is an inference row
            session, ctr, c_hf, c_prob = None, 0, False, 0.0

        batch = pd.concat(list(pdfs), ignore_index=True)
        seqs = np.sort(batch["frame_number"].to_numpy("int64"))
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
        session, sids, closed = ss.fold_sessions(session, seqs, hf, prob, gap)
        state.update((*session, ctr + n, bool(hf[-1]), float(prob[-1])))
        if timeout_ms is not None:
            state.setTimeoutDuration(timeout_ms)

        frames = {
            "row_type": "frame", "video_id": video_id, "frame_number": seqs,
            "is_inference": is_inf, "has_fire": hf, "fire_probability": prob,
            "session_id": sids,
        }
        if closed:  # concat fills each row type's missing columns with nulls
            yield pd.concat(
                [pd.DataFrame(frames), pd.DataFrame(_sessions(video_id, closed, "gap"))],
                ignore_index=True,
            )
        else:
            yield _rows(frames)

    return fn


def fire_detection_stream(
    frames: DataFrame,
    gap: int = ss.DEFAULT_GAP,
    inference_every_n: int = 1,
    timeout_ms: "int | None" = 60_000,
    predict_fn: Callable = surrogate_predict_fn,
    key: str = "video_id",
) -> DataFrame:
    """EP2 in one stateful stage: frames (video_id, frame_number) →
    per-frame detection rows (cadence+LOCF applied) + session
    completion rows, exactly like the reference consumer loop.

    ``timeout_ms=None`` → NoTimeout (no W4 idle flush); required for
    ``availableNow`` replays to terminate — see
    session_state.sessionize_stream."""
    return frames.groupBy(key).applyInPandasWithState(
        _pipeline_fn(gap, inference_every_n, timeout_ms, predict_fn),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.NoTimeout
            if timeout_ms is None
            else GroupStateTimeout.ProcessingTimeTimeout
        ),
    )
