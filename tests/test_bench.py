"""bench.py: the per-query clock, failure counting, the one-line stdout
contract, the SIGTERM snapshot, and a smoke run of a bench CLI."""

import json
import os
import subprocess
import sys
import time
from pathlib import Path
from types import SimpleNamespace

import bench

REPO = Path(__file__).resolve().parent.parent


def test_build_work_is_on_the_clock(spark, sf_dir):
    # a query doing its work while its frame is built: the clock must
    # cover the build, and the checkpoint must count as an in-build job
    def build(spark, _):
        time.sleep(0.3)
        return spark.range(8).localCheckpoint()

    runs, failed = {}, {}
    bench.time_queries(spark, {"slow": SimpleNamespace(fn=build)}, ["slow"], sf_dir, runs, failed)
    assert failed == {}
    row = runs["slow"]
    assert row["t"] >= 0.3
    assert row["build"] >= 0.3
    assert row["build_jobs"] >= 1


def test_failing_query_is_counted_not_fatal(spark, sf_dir):
    def boom(spark, _):
        raise ValueError("no such table")

    reg = {
        "boom": SimpleNamespace(fn=boom),
        "fine": SimpleNamespace(fn=lambda spark, _: spark.range(4)),
    }
    runs, failed = {}, {}
    bench.time_queries(spark, reg, ["boom", "fine"], sf_dir, runs, failed)
    assert failed == {"boom": "ValueError: no such table"}
    assert list(runs) == ["fine"]
    line = json.loads(bench.compact_line({
        "value": runs["fine"]["t"], "sf": 0.001, "loadavg_start": [0.0],
        "queries": {"fine": runs["fine"]["t"]}, "failed": failed,
    }, 0.0))
    assert line["n_failed"] == 1


def test_fit_line_keeps_the_2kb_contract():
    # 190 rows (the registry's size) spread from 0.05 s to ~85 s, plus a
    # slope for every SCALE_QUERIES entry
    times = {f"registered_query_{i:03d}": round(0.05 * 1.04 ** i, 4) for i in range(190)}
    full = {
        "value": round(sum(times.values()), 4),
        "sf": 0.1,
        "queries": times,
        "failed": {},
        "loadavg_start": [1.23, 1.0, 1.0],
        "rows_per_sec_flagship": 123456.7,
        "flagship_min_sec": 0.3012,
        "flagship_p50_sec": 0.3123,
        "flagship_p95_sec": 0.3456,
        "sessionized_rows_per_sec_stream": 23456.7,
        "batched_inference": {"pandas_vs_row_speedup": 2.11, "column_vs_row_speedup": 9.87},
        "scaling": {"factor": 5, "queries": {
            n: {"slope_vs_linear": 0.987} for n in bench.SCALE_QUERIES
        }},
    }
    line = bench.fit_line(full)
    assert len(line.encode()) <= bench.LINE_MAX_BYTES
    payload = json.loads(line)
    kept = list(payload["queries"].values())
    assert kept == sorted(kept, reverse=True)
    assert payload["queries"]["registered_query_189"] == round(times["registered_query_189"], 2)
    assert payload["n_queries"] == 190
    assert payload["q_omitted"] == payload["n_queries"] - len(payload["queries"])
    assert payload["pandas_vs_row_speedup"] == 2.11


def test_sigterm_handler_prints_snapshot_line(monkeypatch, capsys):
    line = json.dumps({"metric": "total_wall_sec", "partial": "queries"})
    monkeypatch.setitem(bench._SNAPSHOT, "line", line)
    exited = []
    monkeypatch.setattr(bench.os, "_exit", lambda code: exited.append(code))
    bench._emit_snapshot_and_exit(15, None)
    assert capsys.readouterr().out.strip() == line
    assert exited == [3]


def test_sigterm_handler_silent_without_snapshot(monkeypatch, capsys):
    monkeypatch.setitem(bench._SNAPSHOT, "line", None)
    exited = []
    monkeypatch.setattr(bench.os, "_exit", lambda code: exited.append(code))
    bench._emit_snapshot_and_exit(15, None)
    assert capsys.readouterr().out == ""
    assert exited == [3]


def test_bench_some_cli_runs(sf_dir):
    # a bench CLI end to end in its own JVM: an import left dangling by
    # a bench.py change fails here, not on the next benchmark run
    env = dict(os.environ, PYSPARK_SUBMIT_ARGS="--driver-memory 1g pyspark-shell")
    out = subprocess.run(
        [sys.executable, "tools/bench_some.py", "--sf", sf_dir, "--reps", "1",
         "global_counters", "host_pagerank"],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=180,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"global_counters", "host_pagerank"}
    assert result["host_pagerank"]["build_jobs"] >= 1


def test_oracle_check_imports_its_own_checkout(tmp_path, monkeypatch):
    # a copy of the script under another root (a parent checkout for an
    # A/B, say) must check that root's tree on the driver AND on the
    # Python workers, never a fixed path; loading it starts no JVM
    import importlib.util
    import shutil

    (tmp_path / "tools").mkdir()
    script = tmp_path / "tools" / "oracle_check.py"
    shutil.copy(Path(REPO) / "tools" / "oracle_check.py", script)
    monkeypatch.setattr(sys, "path", list(sys.path))
    monkeypatch.setenv("PYTHONPATH", "elsewhere")
    spec = importlib.util.spec_from_file_location("oracle_check_copy", script)
    spec.loader.exec_module(importlib.util.module_from_spec(spec))
    root = str(tmp_path.resolve())
    assert sys.path[0] == root
    assert os.environ["PYTHONPATH"] == root + os.pathsep + "elsewhere"
