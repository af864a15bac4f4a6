"""S13, the idiomatic channel: a StreamingQueryListener that mirrors
the reference's progress file from engine-reported metrics.

The reference hand-rolls a throttled, fcntl-locked JSON progress file
updated from inside the consumer loop (reference
streams/pipeline/progress.py:52-135).  SURVEY.md's S13 row names the
Spark-native replacement: `StreamingQueryListener` /
`query.lastProgress` — the engine already counts rows, batches and
rates per query; no user code runs on the hot path at all.

Driver-side only and O(queries) per micro-batch; writes go through the
sinks' fsync'd atomic replace, and row counts are monotone by
construction (cumulative sums of engine-reported numInputRows).
"""

from __future__ import annotations

import json

from pyspark.sql.streaming import StreamingQueryListener

from .sinks import _write_atomic


class ProgressFileListener(StreamingQueryListener):
    """Maintain ``{queries: [{query_id, name, rows_seen, batches,
    last_batch_rows, active}]}`` at `path`, updated on every
    micro-batch from engine metrics (no hot-path instrumentation)."""

    def __init__(self, path: str):
        self.path = path
        self._state: dict[str, dict] = {}

    # -- listener callbacks (all driver-side, engine-invoked) ---------

    def onQueryStarted(self, event) -> None:
        self._state[str(event.id)] = {
            "query_id": str(event.id),
            "name": event.name,
            "rows_seen": 0,
            "batches": 0,
            "last_batch_rows": 0,
            "active": True,
        }
        self._flush()

    def onQueryProgress(self, event) -> None:
        p = event.progress
        entry = self._state.setdefault(
            str(p.id),
            {"query_id": str(p.id), "name": p.name, "rows_seen": 0,
             "batches": 0, "last_batch_rows": 0, "active": True},
        )
        entry["rows_seen"] += int(p.numInputRows)  # monotone: cumulative
        entry["batches"] += 1
        entry["last_batch_rows"] = int(p.numInputRows)
        self._flush()

    def onQueryIdle(self, event) -> None:  # required abstract in Spark 4
        pass

    def onQueryTerminated(self, event) -> None:
        entry = self._state.get(str(event.id))
        if entry is not None:
            entry["active"] = False
            self._flush()

    # -- file output --------------------------------------------------

    def _flush(self) -> None:
        queries = sorted(self._state.values(), key=lambda e: e["query_id"])
        _write_atomic(self.path, [json.dumps({"queries": queries})])
