"""In-memory spans, engine progress and the folded Spark event log.

A span is (name, start, end, parent).  The benchmark records spans only
around its own calls into the program's layers; the engine's per-batch
phases come from ``StreamingQueryProgress.durationMs`` and are attached
as synthetic child spans of the run that produced them, with the batch
body's spans under ``addBatch``.  A layer's self time is its spans'
duration minus the part their children cover.  Nothing is written until
`write`, at the end of the run.
"""

from __future__ import annotations

import json
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

# progress.durationMs key -> layer name
ENGINE_PHASES = {
    "latestOffset": "sources.latest_offset",
    "getBatch": "sources.get_batch",
    "queryPlanning": "engine.query_planning",
    "addBatch": "engine.add_batch",
    "walCommit": "engine.wal_commit",
    "commitOffsets": "engine.commit_offsets",
}

# per-layer metric -> (end-to-end metric it should move, workload)
LAYER_MAP = {
    "sources.*, engine.*": ("latency_p50_s, latency_p90_s; barely throughput_per_s", "ep2_drain_live"),
    "stateful_pipeline.updates_s": ("throughput_per_s", "ep2_drain_live"),
    "stateful_pipeline.state_commit_s": ("latency_p50_s", "ep2_drain_live"),
    "models.*, cadence.inference_ratio": ("throughput_per_s", "ep2_drain_live"),
    "sinks.*": ("throughput_per_s; ep2.complete_latency_p50_s", "ep2_drain_live"),
    "registry.build_s, registry.exec_s": ("latency_p50_s (one pass), throughput_per_s", "registry_batch"),
    "registry.plan_s": ("registry.query_geomean_s", "registry_batch"),
    "exec.*, shuffle.*, driver.cpu_s": ("all", "all"),
    "gen.late_p99_s, gen.keepup_ratio": ("none: checks the open loop ran on schedule", "ep2_drain_live"),
}


class Tracer:
    """Spans kept in memory.  Disabled, `span` costs one attribute read."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        if parent is None and stack:
            parent = stack[-1]
        sid = self.add(name, time.perf_counter(), None, parent, **attrs)
        stack.append(sid)
        try:
            yield sid
        finally:
            stack.pop()
            self.spans[sid]["end"] = time.perf_counter()

    def add(self, name, start, end, parent=None, **attrs) -> int:
        with self._lock:
            self.spans.append(
                {"name": name, "start": start, "end": end, "parent": parent, **attrs}
            )
            return len(self.spans) - 1

    def attach_progress(self, run_span: int, progress: list[dict]) -> None:
        """Lay each batch's engine phases end to end inside `run_span`
        (durationMs gives lengths, not offsets; the batch ends at its
        progress timestamp), and re-parent the batch body's spans —
        recorded in the foreachBatch thread with a `batch_id` — under
        that batch's addBatch.  Body spans of a batch without progress
        go directly under `run_span`, so that the next query's batch ids
        cannot claim them."""
        body = defaultdict(list)
        for i, s in enumerate(self.spans):
            if s.get("batch_id") is not None and s["parent"] is None:
                body[s["batch_id"]].append(i)
        for p in progress:
            d = p.get("durationMs") or {}
            if "addBatch" not in d:
                continue
            end = self.spans[run_span]["start"] + p["_t_end"]
            start = end - d.get("triggerExecution", 0) / 1000.0
            trig = self.add("engine.trigger", start, end, run_span, batch_id=p["batchId"])
            t = start
            for key, layer in ENGINE_PHASES.items():
                if key not in d:
                    continue
                sid = self.add(layer, t, t + d[key] / 1000.0, trig)
                t += d[key] / 1000.0
                if key == "addBatch":
                    for child in body.pop(p["batchId"], []):
                        self.spans[child]["parent"] = sid
        for children in body.values():
            for child in children:
                self.spans[child]["parent"] = run_span

    def root(self, i: int) -> str:
        while self.spans[i]["parent"] is not None:
            i = self.spans[i]["parent"]
        return self.spans[i]["name"]

    def self_times(self, root: str | None = None) -> dict[str, float]:
        """Self time by layer, over every span or those under `root`."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = defaultdict(float)
        for i, s in enumerate(self.spans):
            if s["end"] is not None and (root is None or self.root(i) == root):
                out[s["name"]] += (s["end"] - s["start"]) - child[i]
        return dict(out)

    def totals(self) -> dict[str, float]:
        out = defaultdict(float)
        for s in self.spans:
            if s["end"] is not None:
                out[s["name"]] += s["end"] - s["start"]
        return dict(out)

    def write(self, path: Path, extra: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        roots = {self.root(i) for i in range(len(self.spans))}
        doc = {
            "self_s": self.self_times(),
            "self_s_by_root": {r: self.self_times(r) for r in sorted(roots)},
            "total_s": self.totals(),
            "layer_map": {k: list(v) for k, v in LAYER_MAP.items()},
            **extra,
            "spans": self.spans,
        }
        path.write_text(json.dumps(doc, indent=1, default=str))


def progress_record(p: dict, epoch0: float) -> dict:
    """Keep what the fold needs from one progress JSON, plus the batch's
    end in seconds after `epoch0` (a `time.time()` reading)."""
    from datetime import datetime

    ops = p.get("stateOperators") or []
    started = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
    trig = (p.get("durationMs") or {}).get("triggerExecution", 0) / 1000.0
    return {
        "batchId": p.get("batchId"),
        "numInputRows": p.get("numInputRows", 0),
        "durationMs": p.get("durationMs") or {},
        "stateOperators": [
            {k: o.get(k, 0) for k in ("numRowsTotal", "memoryUsedBytes", "allUpdatesTimeMs", "commitTimeMs")}
            for o in ops
        ],
        "_t_end": started + trig - epoch0,
    }


def fold_progress(progress: list[dict]) -> dict[str, float]:
    """Per-layer engine and state-store figures, summed over batches."""
    batches = [p for p in progress if "addBatch" in p["durationMs"]]
    dur = defaultdict(float)
    updates = commit = 0.0
    rows = nbytes = 0
    for p in batches:
        for key, layer in ENGINE_PHASES.items():
            dur[layer] += p["durationMs"].get(key, 0) / 1000.0
        for o in p["stateOperators"]:
            updates += o["allUpdatesTimeMs"] / 1000.0
            commit += o["commitTimeMs"] / 1000.0
    # state size: the largest any query reached (queries end one by one)
    for p in batches:
        for o in p["stateOperators"]:
            rows = max(rows, o["numRowsTotal"])
            nbytes = max(nbytes, o["memoryUsedBytes"])
    in_rows = [p["numInputRows"] for p in batches]
    return {
        "sources.latest_offset_s": dur["sources.latest_offset"],
        "sources.get_batch_s": dur["sources.get_batch"],
        "engine.query_planning_s": dur["engine.query_planning"],
        "engine.add_batch_s": dur["engine.add_batch"],
        "engine.wal_commit_s": dur["engine.wal_commit"],
        "engine.commit_offsets_s": dur["engine.commit_offsets"],
        "engine.batches": float(len(batches)),
        "engine.rows_per_batch_p50": float(statistics.median(in_rows)) if in_rows else 0.0,
        "stateful_pipeline.updates_s": updates,
        "stateful_pipeline.state_commit_s": commit,
        "stateful_pipeline.state_rows": float(rows),
        "stateful_pipeline.state_bytes": float(nbytes),
    }


def engine_by_label(progress: list[dict]) -> dict[str, float]:
    """Streaming trigger time by what the benchmark was running."""
    out: dict[str, float] = defaultdict(float)
    for p in progress:
        out[p.get("label", "")] += p["durationMs"].get("triggerExecution", 0) / 1000.0
    return dict(out)


def fold_event_log(log_dir: Path) -> tuple[dict[str, float], dict[str, dict]]:
    """Sum TaskEnd metrics over the whole log, and per job group.  The
    log is complete once its SparkContext has stopped."""
    stage_group: dict[int, str] = {}
    jobs_by_group: dict[str, int] = defaultdict(int)
    total = defaultdict(float)
    by_group: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for path in sorted(log_dir.glob("*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    jobs_by_group[group] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    rec = {
                        "exec.task_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "exec.task_run_s": m.get("Executor Run Time", 0) / 1e3,
                        "exec.gc_s": m.get("JVM GC Time", 0) / 1e3,
                        "exec.tasks": 1.0,
                        "shuffle.write_bytes": float(sw.get("Shuffle Bytes Written", 0)),
                        "shuffle.read_bytes": float(
                            sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                        ),
                        "exec.spill_bytes": float(
                            m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                        ),
                    }
                    group = stage_group.get(ev.get("Stage ID"), "")
                    for k, v in rec.items():
                        total[k] += v
                        by_group[group][k] += v
    for g, n in jobs_by_group.items():
        by_group[g]["jobs"] = float(n)
    for k in ("exec.task_cpu_s", "exec.task_run_s", "exec.gc_s", "exec.tasks",
              "shuffle.write_bytes", "shuffle.read_bytes", "exec.spill_bytes"):
        total.setdefault(k, 0.0)
    return dict(total), {g: dict(v) for g, v in by_group.items()}


class ProgressListener:
    """Collects every StreamingQueryProgress of the session (the registry
    runs its streaming twins inside query builds, out of our reach).
    Built lazily so that importing this module needs no Spark."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.records: list[dict] = []
        self.started = 0
        self.terminated = 0
        self.label = ""  # what the benchmark is running, e.g. a query name
        self._labels: dict[str, str] = {}
        self._lock = threading.Lock()

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                # delivered synchronously inside start(): the label is current
                with outer._lock:
                    outer.started += 1
                    outer._labels[str(event.id)] = outer.label

            def onQueryProgress(self, event):
                p = json.loads(event.progress.json)
                rec = progress_record(p, 0.0)
                with outer._lock:
                    rec["label"] = outer._labels.get(p.get("id"), "")
                    outer.records.append(rec)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with outer._lock:
                    outer.terminated += 1

        self._listener = _L()
        self._spark = spark
        spark.streams.addListener(self._listener)

    def drain(self, timeout: float = 10.0) -> None:
        """Wait until every started query's termination was delivered."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            with self._lock:
                if self.terminated >= self.started:
                    break
            time.sleep(0.05)
        self._spark.streams.removeListener(self._listener)
