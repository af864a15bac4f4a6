"""The two phases of the EP2 workload: `fire_detection_stream` (cadence
N=3, 300-frame gap) behind one foreachBatch that fans out to three
sinks: the detections topic (every output row through
`kafka_key_value`, written to parquet as there is no broker),
`media_manifest_sink` on frame rows and `media_finalize_sink` on
session rows.

* `run_drain` — closed loop: catch-up after an outage.  A seeded backlog
  is drained with `availableNow` in a few large micro-batches.
* `run_live` — open loop: a generator thread writes one small file per
  tick on a fixed schedule while the query runs under a processing-time
  trigger; each frame is timed from its due time.

Outputs are checked off the clock against a numpy reference computed
from the generator's own frame list.
"""

from __future__ import annotations

import json
import os
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from perfbench import inputs
from perfbench.inputs import GAP, Frames

EVERY_N = 3
_FRAME_FIELDS = ("frame_number", "is_inference", "has_fire", "fire_probability", "session_id")
_SESSION_FIELDS = (
    "session_id", "total_frames", "fire_count", "max_fire_probability",
    "first_seq", "last_seq", "closed_by",
)


def timed_predict(sc):
    """The surrogate backend behind a wrapper that counts calls and rows
    and times each call, through accumulators (it runs in the Python
    workers)."""
    from firewatch_spark.streaming.stateful_pipeline import surrogate_predict_fn

    calls, rows, secs = sc.accumulator(0), sc.accumulator(0), sc.accumulator(0.0)

    def predict(seq):
        t = time.perf_counter()
        out = surrogate_predict_fn(seq)
        secs.add(time.perf_counter() - t)
        calls.add(1)
        rows.add(len(seq))
        return out

    return predict, (calls, rows, secs)


@dataclass
class Commit:
    detections: float  # perf_counter when the detections write returned
    finalized: float  # ... when the finalize sink returned
    rows: int


@dataclass
class Query:
    """One EP2 streaming query and what its batches reported."""

    spark: object
    base: Path
    tracer: object
    predict_fn: object
    commits: dict[int, Commit] = field(default_factory=dict)
    handle: object = None

    def __post_init__(self):
        self.base.mkdir(parents=True)  # a fresh checkpoint and outputs
        for d in ("src", "det", "media"):
            (self.base / d).mkdir()

    def start(self, available_now: bool = False, max_files: int | None = None, every_s: float | None = None):
        from pyspark.sql import functions as F

        from firewatch_spark.sources.kafka import kafka_key_value
        from firewatch_spark.streaming.sinks import media_finalize_sink, media_manifest_sink
        from firewatch_spark.streaming.stateful_pipeline import fire_detection_stream

        reader = self.spark.readStream.schema(inputs.FRAME_DDL)
        if max_files:
            reader = reader.option("maxFilesPerTrigger", max_files)
        out = fire_detection_stream(
            reader.parquet(str(self.base / "src")),
            gap=GAP, inference_every_n=EVERY_N, timeout_ms=None,
            predict_fn=self.predict_fn,
        )
        media = str(self.base / "media")
        manifest, finalize = media_manifest_sink(media), media_finalize_sink(media)
        span, commits, det = self.tracer.span, self.commits, self.base / "det"

        def body(batch_df, bid):
            batch_df.persist()
            try:
                with span("stateful_pipeline.materialize", batch_id=bid):
                    n = batch_df.count()
                # every output row is a detection event keyed by camera
                value = F.to_json(F.struct(*batch_df.columns[2:], "row_type")).alias("value")
                with span("sinks.detections", batch_id=bid):
                    kafka_key_value(batch_df.select("video_id", value), "video_id", "value").write.mode(
                        "overwrite"
                    ).parquet(str(det / f"batch_id={bid}"))
                t_det = time.perf_counter()
                with span("sinks.manifest", batch_id=bid):
                    manifest(batch_df.filter(F.col("row_type") == "frame"), bid)
                with span("sinks.finalize", batch_id=bid):
                    finalize(batch_df.filter(F.col("row_type") == "session"), bid)
                commits[bid] = Commit(t_det, time.perf_counter(), n)
            finally:
                batch_df.unpersist()

        writer = (
            out.writeStream.foreachBatch(body)
            .option("checkpointLocation", str(self.base / "ckpt"))
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        elif every_s:
            writer = writer.trigger(processingTime=f"{int(every_s * 1000)} milliseconds")
        self.handle = writer.start()
        return self.handle

    def finish(self) -> str | None:
        """Stop the query; the engine's exception, if any, as text."""
        exc = self.handle.exception()
        self.handle.stop()
        return None if exc is None else str(exc)

    def progress(self, epoch0: float) -> list[dict]:
        from perfbench.trace import progress_record

        return [progress_record(json.loads(p.json), epoch0) for p in self.handle.recentProgress]

    def outputs(self) -> tuple[pd.DataFrame, pd.DataFrame]:
        """(frame rows, session rows) as written, with their batch id."""
        rows = _read_topic(self.base / "det")
        is_frame = rows["row_type"] == "frame"
        frames = rows.loc[is_frame, ["video_id", "batch_id", *_FRAME_FIELDS]]
        sessions = rows.loc[~is_frame, ["video_id", "batch_id", *_SESSION_FIELDS]]
        return (
            frames.astype({"frame_number": "int64", "session_id": "int64"}),
            sessions.astype({c: "int64" for c in ("session_id", "total_frames", "fire_count", "first_seq", "last_seq")}),
        )

    def media_counts(self) -> tuple[int, int, int]:
        """(promoted manifests, frame lines in them net of the flush
        rewrite, frame lines still in open segments)."""
        manifests = segs = promoted_lines = open_lines = 0
        for p in (self.base / "media").iterdir():
            if p.name.endswith(".manifest"):
                manifests += 1
                promoted_lines += _lines(p) - 1
            elif ".manifest.seg-" in p.name and not p.name.startswith("."):
                segs += 1
                open_lines += _lines(p)
        return manifests, promoted_lines, open_lines

    def bytes_written(self) -> int:
        return sum(
            p.stat().st_size
            for d in ("det", "media")
            for p in (self.base / d).rglob("*")
            if p.is_file()
        )


def _lines(path: Path) -> int:
    with open(path, "rb") as f:
        return sum(1 for _ in f)


def _read_topic(directory: Path) -> pd.DataFrame:
    """Every record's JSON value as columns, plus its key and batch id."""
    recs = []
    for part in directory.glob("batch_id=*"):
        bid = int(part.name.split("=", 1)[1])
        t = pq.read_table(part)
        for k, v in zip(t.column("key").to_pylist(), t.column("value").to_pylist()):
            recs.append({**json.loads(v), "video_id": k, "batch_id": bid})
    cols = ["video_id", "batch_id", "row_type", *_FRAME_FIELDS, *_SESSION_FIELDS]
    return pd.DataFrame.from_records(recs, columns=list(dict.fromkeys(cols)))


# -- numpy reference -------------------------------------------------------


def reference(frames: Frames) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Expected frame rows and gap-closed session rows for `frames`
    (arrival order; each camera's frame numbers increase), by the EP2
    rules: inference on every N-th frame of a camera, the last inferred
    prediction carried forward, a session closed when frame numbers jump
    by more than GAP.  The surrogate model is the Knuth hash threshold."""
    from firewatch_spark import surrogate

    order = np.lexsort((np.arange(len(frames.video)), frames.video))
    video, fn = frames.video[order], frames.frame_number[order]
    starts = np.r_[0, np.flatnonzero(np.diff(video)) + 1]
    first_of_video = np.zeros(len(video), dtype=bool)
    first_of_video[starts] = True
    video_start = np.maximum.accumulate(np.where(first_of_video, np.arange(len(video)), 0))
    ordinal = np.arange(len(video)) - video_start
    is_inf = ordinal % EVERY_N == 0
    raw = (fn * surrogate.KNUTH % surrogate.MOD) / float(surrogate.MOD)
    src = video_start + (ordinal // EVERY_N) * EVERY_N  # last inference row
    hf = raw[src] >= surrogate.DEFAULT_THRESHOLD
    prob = np.where(hf, raw[src], 0.0)
    new_session = np.r_[False, np.diff(fn) > GAP] & ~first_of_video
    sess_no = np.cumsum(new_session | first_of_video)  # global session index
    sid = sess_no - sess_no[video_start] + 1
    names = np.asarray(frames.names, dtype=object)
    rows = pd.DataFrame(
        {
            "video_id": names[video], "frame_number": fn, "is_inference": is_inf,
            "has_fire": hf, "fire_probability": prob, "session_id": sid,
            "arrival": order,
        }
    )
    g = rows.assign(_s=sess_no, _p=np.where(hf, prob, 0.0)).groupby("_s", sort=True)
    sessions = pd.DataFrame(
        {
            "video_id": g["video_id"].first(), "session_id": g["session_id"].first(),
            "total_frames": g.size(), "fire_count": g["has_fire"].sum(),
            "max_fire_probability": g["_p"].max(), "first_seq": g["frame_number"].min(),
            "last_seq": g["frame_number"].max(),
        }
    ).reset_index(drop=True)
    # a session is emitted once the camera's next frame opens a new one;
    # that frame's arrival index is when the session could first close
    closer = rows[new_session]
    closed = sessions.merge(
        closer[["video_id", "session_id", "arrival"]].assign(session_id=closer["session_id"] - 1),
        on=["video_id", "session_id"],
    ).rename(columns={"arrival": "closing_arrival"})
    closed["closed_by"] = "gap"
    return rows, closed


def check(frames: Frames, got_frames: pd.DataFrame, got_sessions: pd.DataFrame):
    """Compare outputs with `reference(frames)`.  Returns (attempted,
    failed, expected frame rows joined with their batch id, expected
    sessions joined with theirs)."""
    want_f, want_s = reference(frames)
    fk, sk = ["video_id", "frame_number"], ["video_id", "session_id"]
    m = want_f.merge(got_frames, on=fk, how="outer", suffixes=("", "_got"), indicator=True)
    both = m["_merge"] == "both"
    bad = (
        (m.loc[both, "is_inference"] != m.loc[both, "is_inference_got"].astype(bool))
        | (m.loc[both, "has_fire"] != m.loc[both, "has_fire_got"].astype(bool))
        | (m.loc[both, "session_id"] != m.loc[both, "session_id_got"])
        | ~np.isclose(m.loc[both, "fire_probability"], m.loc[both, "fire_probability_got"].astype(float), rtol=0, atol=1e-12)
    )
    failed = int((~both).sum() + bad.sum())
    s = want_s.merge(got_sessions, on=sk, how="outer", suffixes=("", "_got"), indicator=True)
    sboth = s["_merge"] == "both"
    sbad = np.zeros(int(sboth.sum()), dtype=bool)
    for c in ("total_frames", "fire_count", "first_seq", "last_seq"):
        sbad |= (s.loc[sboth, c].astype("int64") != s.loc[sboth, f"{c}_got"].astype("int64")).to_numpy()
    sbad |= ~np.isclose(s.loc[sboth, "max_fire_probability"].astype(float), s.loc[sboth, "max_fire_probability_got"].astype(float), rtol=0, atol=1e-12)
    sbad |= (s.loc[sboth, "closed_by_got"] != "gap").to_numpy()
    failed += int((~sboth).sum() + sbad.sum())
    attempted = len(want_f) + len(want_s)
    return attempted, failed, m[both], s[sboth]


def media_failures(q: Query, frame_rows: int, sessions: pd.DataFrame) -> int:
    """The media sinks must account for every frame line exactly once,
    and promote one manifest per (batch, camera) with a closed session."""
    manifests, promoted, open_lines = q.media_counts()
    want = sessions.groupby("batch_id")["video_id"].nunique().sum()
    return int(manifests != want) + int(promoted + open_lines != frame_rows)


# -- workloads -------------------------------------------------------------


def warm_up(spark, run_dir: Path, rng, sizes) -> None:
    """One small single-batch drain off the clock: starts the Python
    workers and runs the stateful and sink code paths once."""
    from perfbench.trace import Tracer

    frames = inputs.backlog(rng, "warm", 16, sizes.warm_frames)
    q = Query(spark, run_dir / "warm", Tracer(False), _predict_fn(spark, None))
    _write_backlog(q, frames, 1)
    q.start(available_now=True, max_files=1).awaitTermination(120)
    q.finish()


def _predict_fn(spark, probes):
    """The plain surrogate, or with `probes` (a list) a timed wrapper
    whose accumulators are appended to it."""
    from firewatch_spark.streaming.stateful_pipeline import surrogate_predict_fn

    if probes is None:
        return surrogate_predict_fn
    fn, accs = timed_predict(spark.sparkContext)
    probes.append(accs)
    return fn


def _write_backlog(q: Query, frames: Frames, n_files: int) -> None:
    bounds = np.linspace(0, len(frames.video), n_files + 1).astype(int)
    base = int(time.time()) - n_files - 10
    for i in range(n_files):
        p = inputs.write_frames(
            frames.table(slice(bounds[i], bounds[i + 1])), q.base / "src", f"part-{i:05d}.parquet"
        )
        os.utime(p, (base + i, base + i))  # replay order = file order


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    frames: int = 0  # frames counted in the throughput
    frames_in: int = 0  # every frame fed to the query
    wall_s: float = 0.0  # ... and the time they took
    latencies: list = field(default_factory=list)
    complete_latencies: list = field(default_factory=list)
    batches: int = 0
    progress: list = field(default_factory=list)
    manifest_files: int = 0
    bytes_written: int = 0
    late: list = field(default_factory=list)
    keepup: float = 1.0
    errors: list = field(default_factory=list)


def run_drain(spark, run_dir: Path, rng, sizes, tracer, probes) -> Outcome:
    """Catch-up after an outage: one seeded backlog drained with
    `availableNow`, one file per micro-batch, on a fresh checkpoint."""
    out = Outcome()
    epoch0, t_run = time.time(), time.perf_counter()
    frames = inputs.backlog(rng, "drain", sizes.drain_videos, sizes.drain_frames)
    q = Query(spark, run_dir / "drain", tracer, _predict_fn(spark, probes))
    _write_backlog(q, frames, sizes.drain_files)
    with tracer.span("ep2.drain") as sid:
        t0 = time.perf_counter()
        q.start(available_now=True, max_files=1).awaitTermination(150)
        out.wall_s = time.perf_counter() - t0
        err = q.finish()
    out.frames = out.frames_in = len(frames.video)
    out.batches = len(q.commits)
    out.progress = [{**p, "label": "drain"} for p in q.progress(epoch0)]
    if tracer.enabled:
        _attach(tracer, sid, out.progress, t_run)
    _score(out, q, frames, err, lambda arrival: np.full(len(arrival), np.nan))
    return out


def _attach(tracer, sid, progress, t_run) -> None:
    """Progress ends are offsets from the run's start `t_run`; shift them
    to the run span's own start."""
    shift = tracer.spans[sid]["start"] - t_run
    tracer.attach_progress(sid, [{**p, "_t_end": p["_t_end"] - shift} for p in progress])


def _score(out: Outcome, q: Query, frames: Frames, err, due_of):
    """Check one query's outputs and add its latency samples: a frame's
    from `due_of(arrival index)` (NaN: not a sample) to its detections
    commit, a gap-closed session's from its closing frame's due time to
    its finalize.  Returns the matched frame rows."""
    if err is not None:
        out.errors.append(err)
        out.attempted += len(frames.video)
        out.failed += len(frames.video)
        return None
    got_f, got_s = q.outputs()
    attempted, failed, fr, ss = check(frames, got_f, got_s)
    failed += media_failures(q, len(got_f), ss)
    out.attempted += attempted + 1
    out.failed += failed
    det = {b: c.detections for b, c in q.commits.items()}
    fin = {b: c.finalized for b, c in q.commits.items()}
    lat = fr["batch_id"].map(det).to_numpy() - due_of(fr["arrival"].to_numpy())
    out.latencies.extend(lat[~np.isnan(lat)])
    if len(ss):
        lat = ss["batch_id"].map(fin).to_numpy() - due_of(ss["closing_arrival"].to_numpy())
        out.complete_latencies.extend(lat[~np.isnan(lat)])
    out.manifest_files += q.media_counts()[0]
    out.bytes_written += q.bytes_written()
    return fr


class OpenLoop(threading.Thread):
    """Writes tick k's file at t0 + k·tick, whatever the query is doing,
    and records how late each write landed."""

    def __init__(self, q: Query, frames: Frames, per_tick: int, tick: float, n: int):
        super().__init__(name="perfbench-open-loop", daemon=True)
        self.q, self.frames, self.per_tick, self.tick, self.n = q, frames, per_tick, tick, n
        self.t0 = 0.0
        self.late: list[float] = []
        self.stop_event = threading.Event()

    def run(self) -> None:
        for k in range(1, self.n):
            due = self.t0 + k * self.tick
            if self.stop_event.wait(max(0.0, due - time.perf_counter())):
                return
            sl = slice(k * self.per_tick, (k + 1) * self.per_tick)
            inputs.write_frames(self.frames.table(sl), self.q.base / "src", f"tick-{k:06d}.parquet")
            self.late.append(time.perf_counter() - due)


def run_live(spark, run_dir: Path, rng, seconds: float, sizes, tracer, probes) -> Outcome:
    """The generator soaks for at least `sizes.live_soak_s` and then runs
    the measured window of `seconds`; only frames due in the window are
    samples, so that the JIT and the Python workers settle first."""
    out = Outcome()
    v, tick, every = sizes.live_videos * sizes.live_per_tick, sizes.live_tick_s, sizes.live_trigger_s
    window = int(round(seconds / tick))
    schedule = inputs.live_schedule(
        rng, "live", sizes.live_videos, 1 + int((sizes.live_soak_s + every) / tick) + window,
        sizes.live_per_tick, sizes.live_gap_prob,
    )
    q = Query(spark, run_dir / "live", tracer, _predict_fn(spark, probes))
    # tick 0 primes the query (first-batch planning) off the clock
    inputs.write_frames(schedule.table(slice(0, v)), q.base / "src", "tick-000000.parquet")
    epoch0, t_run = time.time(), time.perf_counter()
    q.start(every_s=every)
    _wait(lambda: 0 in q.commits, q, 120)
    # Spark fires processing-time triggers at multiples of the interval
    # since the epoch: open the window half a tick after one, so that
    # every run sees its window in the same trigger phase
    wall, now = time.time(), time.perf_counter()
    t_win = now + (np.floor((wall + sizes.live_soak_s) / every) + 1) * every + tick / 2 - wall
    soak = int((t_win - now) / tick)  # ticks before the window
    n_ticks = 1 + soak + window
    frames = schedule.head(n_ticks * v)
    want_f, want_s = reference(frames)
    want_rows = len(want_f) + len(want_s)
    gen = OpenLoop(q, frames, v, tick, n_ticks)
    with tracer.span("ep2.live_window") as sid:
        gen.t0 = t0 = t_win - soak * tick
        gen.start()
        gen.join(n_ticks * tick + 60)
        _wait(lambda: sum(c.rows for c in list(q.commits.values())) >= want_rows, q, 60)
        err = q.finish()
    gen.stop_event.set()
    gen.join(10)
    t_end = t0 + (n_ticks - 1) * tick
    out.late = gen.late
    committed = {b: c for b, c in q.commits.items() if b > 0}
    progress = [{**p, "label": "live"} for p in q.progress(epoch0) if p["batchId"] > 0]
    out.progress = progress
    if tracer.enabled:
        _attach(tracer, sid, progress, t_run)

    def due_of(arrival):
        k = arrival // v
        return np.where(k > soak, t0 + k * tick, np.nan)

    fr = _score(out, q, frames, err, due_of)
    out.frames_in = len(frames.video)
    if fr is not None:
        k = fr["arrival"].to_numpy() // v
        done = fr["batch_id"].map({b: c.detections for b, c in committed.items()}).to_numpy()
        window = k > soak
        batches = set(fr.loc[window, "batch_id"])
        out.batches = len(batches)
        # throughput is Spark's processedRowsPerSecond over the window's
        # batches: the trigger interval, not the pipeline, sets the
        # window's wall time
        out.frames = sum(p["numInputRows"] for p in progress if p["batchId"] in batches)
        out.wall_s = sum(
            p["durationMs"].get("triggerExecution", 0) for p in progress if p["batchId"] in batches
        ) / 1000.0
        # frames emitted in the window over frames due in it: below 1,
        # the backlog grew
        emitted = int(((done > t_win) & (done <= t_end)).sum())
        out.keepup = emitted / int(window.sum())
    return out


def _wait(cond, q: Query, timeout: float) -> None:
    deadline = time.perf_counter() + timeout
    while not cond() and q.handle.isActive and time.perf_counter() < deadline:
        time.sleep(0.005)
