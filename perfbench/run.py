"""sparkwatch benchmark.

    python3 perfbench/run.py --workload ep2_drain_live --seed 1 --seconds 8 --trace 0

Workloads (details in perfbench/README.md):

* ep2_drain_live  the EP2 stream: a fixed frame rate (open loop), then a
                  backlog catch-up with availableNow (closed loop)
* registry_batch  closed loop, one client: a registry subset at sf0.01

With ``--trace 0`` the last stdout line carries the end-to-end metrics,
measured untraced.  With ``--trace 1`` it carries the per-layer metrics
of a traced measurement, made after an untraced one so that the tracing
overhead shows, and the spans, engine progress and folded event log go
to ``.perfbench_work/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

WORKLOADS = ("ep2_drain_live", "registry_batch")
SETUPS = 3  # set-ups per untraced run; setup_s is their median

END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "sources.latest_offset_s": "s",
    "sources.get_batch_s": "s",
    "engine.query_planning_s": "s",
    "engine.add_batch_s": "s",
    "engine.wal_commit_s": "s",
    "engine.commit_offsets_s": "s",
    "engine.batches": "count",
    "engine.rows_per_batch_p50": "rows",
    "stateful_pipeline.materialize_s": "s",
    "stateful_pipeline.updates_s": "s",
    "stateful_pipeline.state_commit_s": "s",
    "stateful_pipeline.state_rows": "rows",
    "stateful_pipeline.state_bytes": "bytes",
    "models.predict_calls": "count",
    "models.predict_rows": "rows",
    "models.predict_s": "s",
    "cadence.inference_ratio": "ratio",
    "sinks.detections_s": "s",
    "sinks.manifest_s": "s",
    "sinks.finalize_s": "s",
    "sinks.manifest_files": "count",
    "sinks.bytes_written": "bytes",
    "ep2.complete_latency_p50_s": "s",
    "registry.build_s": "s",
    "registry.plan_s": "s",
    "registry.exec_s": "s",
    "registry.jobs": "count",
    "registry.in_build_jobs": "count",
    "registry.query_geomean_s": "s",
    "exec.task_cpu_s": "s",
    "exec.task_run_s": "s",
    "exec.gc_s": "s",
    "exec.tasks": "count",
    "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "driver.cpu_s": "s",
    "gen.late_p99_s": "s",
    "gen.keepup_ratio": "ratio",
    "trace.overhead_s": "s",
    "trace.accounted_ratio": "ratio",
}


def _log(msg: str) -> None:
    print(msg, flush=True)


def setup(workload: str, run_dir: Path, seed: int, sizes, event_log: bool, tag: str):
    """Start a session, make the workload's inputs and warm it up off the
    clock.  Returns (spark, registry table dir or None)."""
    import numpy as np

    from perfbench import ep2, inputs, registry_batch
    from perfbench.sparkenv import start_spark

    spark = start_spark(run_dir, event_log=event_log)
    rng = np.random.default_rng([seed, 1])
    if workload != "registry_batch":
        ep2.warm_up(spark, run_dir / tag, rng, sizes)
        return spark, None
    data = run_dir / tag / "tables"
    inputs.registry_tables(rng, data, sizes.registry_sf)
    registry_batch.warm_up(spark, data)
    return spark, data


def measure(workload, spark, run_dir, seed, seconds, sizes, data, tracer, probes, listener=None) -> dict:
    """One measurement: end-to-end figures, checked outputs, raw outcome."""
    import numpy as np

    from perfbench import ep2, registry_batch

    rng = np.random.default_rng([seed, 2])
    cpu0 = time.process_time()
    if workload == "registry_batch":
        out = registry_batch.run(spark, data, rng, seconds, tracer, listener=listener)
        cpu = time.process_time() - cpu0
        expected = registry_batch.oracle_counts(data, list(out.times))
        attempted, failed = registry_batch.score(out, expected)
        # one request of the client is a pass over the subset
        passes = out.per_pass_s()
        p50, p90 = np.percentile(passes, [50, 90])
        return {
            "attempted": attempted, "failed": failed, "errors": out.errors,
            "throughput_per_s": sum(len(ts) for ts in out.times.values()) / sum(passes),
            "latency_p50_s": p50, "latency_p90_s": p90,
            "e2e_s": p50, "cpu_s": cpu, "registry": out,
            "samples": f"{len(out.times)} queries x {out.passes} pass(es)",
        }
    base = run_dir / ("measure-traced" if tracer.enabled else "measure")
    # live first: its soak warms the JVM's per-row paths for the drain
    live = ep2.run_live(spark, base, rng, seconds, sizes, tracer, probes)
    drain = ep2.run_drain(spark, base, rng, sizes, tracer, probes)
    cpu = time.process_time() - cpu0
    p50, p90 = np.percentile(live.latencies, [50, 90]) if live.latencies else (float("nan"),) * 2
    return {
        "attempted": drain.attempted + live.attempted, "failed": drain.failed + live.failed,
        "errors": drain.errors + live.errors,
        "throughput_per_s": drain.frames / drain.wall_s if drain.wall_s else 0.0,
        "latency_p50_s": p50, "latency_p90_s": p90,
        "e2e_s": drain.wall_s, "cpu_s": cpu, "drain": drain, "live": live,
        "samples": f"drain: {drain.frames} frames in {drain.batches} batches; "
        f"live: {len(live.latencies)} frames in {live.batches} batches, "
        f"{len(live.complete_latencies)} closed sessions",
    }


def per_layer(res: dict, tracer, probes, listener, overhead_s: float) -> dict:
    """Every per-layer metric; a layer the workload does not load reads 0."""
    import numpy as np

    from perfbench.trace import fold_progress

    drain, live, reg = res.get("drain"), res.get("live"), res.get("registry")
    m = dict.fromkeys(PER_LAYER, 0.0)
    m.update(fold_progress(drain.progress + live.progress if drain else listener.records))
    totals = tracer.totals()
    for name in ("sinks.detections", "sinks.manifest", "sinks.finalize",
                 "stateful_pipeline.materialize"):
        m[f"{name}_s"] = totals.get(name, 0.0)
    if drain:
        calls, rows, secs = (sum(a[i].value for a in probes) for i in range(3))
        m["models.predict_calls"], m["models.predict_rows"], m["models.predict_s"] = calls, rows, secs
        m["cadence.inference_ratio"] = rows / (drain.frames_in + live.frames_in)
        m["sinks.manifest_files"] = drain.manifest_files + live.manifest_files
        m["sinks.bytes_written"] = drain.bytes_written + live.bytes_written
        if live.complete_latencies:
            m["ep2.complete_latency_p50_s"] = float(np.median(live.complete_latencies))
        if live.late:
            m["gen.late_p99_s"] = float(np.percentile(live.late, 99))
            m["gen.keepup_ratio"] = live.keepup
        # the drain's wall time covered by layer spans (the blocking path)
        m["trace.accounted_ratio"] = 1.0 - tracer.self_times()["ep2.drain"] / totals["ep2.drain"]
    if reg:
        for key, attr in (("build_s", "build"), ("plan_s", "plan"), ("exec_s", "execute"),
                          ("jobs", "jobs"), ("in_build_jobs", "build_jobs")):
            m[f"registry.{key}"] = sum(reg.median(n, attr) for n in reg.times)
        per_query = reg.per_query_s()
        m["registry.query_geomean_s"] = float(np.exp(np.mean(np.log(per_query))))
        total = sum(per_query)
        m["trace.accounted_ratio"] = (m["registry.build_s"] + m["registry.plan_s"] + m["registry.exec_s"]) / total
    m["driver.cpu_s"] = res["cpu_s"]
    m["trace.overhead_s"] = overhead_s
    return {k: float(v) for k, v in m.items()}


def run(workload: str, seed: int, seconds: float, trace: bool, run_dir: Path,
        sizes=None, setups: int = SETUPS) -> dict:
    """One benchmark run in `run_dir`, on the JVM of this process
    (launched by the first session).  Returns the result object."""
    from perfbench import sparkenv
    from perfbench.inputs import Sizes
    from perfbench.trace import (
        ProgressListener, Tracer, engine_by_label, fold_event_log, fold_progress,
    )

    sizes = sizes or Sizes()
    run_dir = run_dir / f"{workload}-trace{int(trace)}"
    spark = None
    try:
        times = []
        for i in range(1 if trace else setups):
            if spark is not None:
                spark.stop()  # tearing the last one down is not set-up
            t = time.perf_counter()
            spark, data = setup(workload, run_dir, seed, sizes, False, f"setup{i}")
            times.append(time.perf_counter() - t)
        t = time.perf_counter()
        base = measure(workload, spark, run_dir, seed, seconds, sizes, data, Tracer(False), None)
        _log(f"{workload}: {base['samples']}; errors: {base['errors'] or 'none'}; "
             f"set-ups {[round(s, 2) for s in times]} s, measured and checked in "
             f"{time.perf_counter() - t:.1f} s")
        attempted, failed = base["attempted"], base["failed"]
        if not trace:
            values = {
                "setup_s": statistics.median(times),
                "throughput_per_s": base["throughput_per_s"],
                "latency_p50_s": base["latency_p50_s"],
                "latency_p90_s": base["latency_p90_s"],
                "peak_rss_mb": sparkenv.peak_rss_mb(),
            }
            units = END_TO_END
        else:
            spark.stop()
            spark, data = setup(workload, run_dir, seed, sizes, True, "setup-traced")
            tracer, probes = Tracer(True), []
            listener = ProgressListener(spark) if workload == "registry_batch" else None
            traced = measure(workload, spark, run_dir, seed, seconds, sizes, data, tracer, probes, listener)
            if listener is not None:
                listener.drain()
            _log(f"{workload} traced: {traced['samples']}; errors: {traced['errors'] or 'none'}")
            attempted, failed = attempted + traced["attempted"], failed + traced["failed"]
            values = per_layer(traced, tracer, probes, listener, traced["e2e_s"] - base["e2e_s"])
            spark.stop()  # completes the event log
            spark = None
            log_total, log_groups = fold_event_log(run_dir / "eventlog")
            values.update(log_total)
            units = PER_LAYER
            progress = traced["drain"].progress + traced["live"].progress if "drain" in traced else listener.records
            path = sparkenv.WORK / f"trace-{workload}-{seed}.json"
            tracer.write(path, {
                "workload": workload, "seed": seed, "seconds": seconds,
                "samples": traced["samples"], "per_layer": values,
                "untraced_end_to_end_s": base["e2e_s"], "traced_end_to_end_s": traced["e2e_s"],
                "engine_s_by_label": engine_by_label(progress),
                "progress_by_label": {
                    label: fold_progress([p for p in progress if p.get("label") == label])
                    for label in {p.get("label", "") for p in progress}
                },
                "event_log_by_job_group": log_groups, "progress": progress,
            })
            _log(f"trace: {path}")
        return {
            "correct": failed == 0,
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
        }
    finally:
        if spark is not None:
            spark.stop()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if importlib.util.find_spec("firewatch_spark") is None:
        print(f"firewatch_spark is not importable from {ROOT}", file=sys.stderr)
        return 2
    from perfbench import sparkenv

    run_dir = sparkenv.new_run_dir(args.workload)
    sparkenv.prepare_process(run_dir)
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), run_dir)
    finally:
        sparkenv.shutdown_jvm()
        sparkenv.remove(run_dir)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
