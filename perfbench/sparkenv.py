"""Spark launch, work directory and process accounting for the benchmark.

Everything the benchmark writes lives under ``<checkout>/.perfbench_work``:
Spark's local dirs, the JVM and Python temp dirs, the warehouse, the
event log, the generated inputs and the sink outputs.  The checkout root
is put on the Python workers' path, because the stateful stage and the
manifest sink unpickle ``firewatch_spark`` functions in the executors.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"

# Sized for a 4-core, 15 GB machine shared with other work: the registry
# at sf0.01 and the EP2 backlog peak well under 1 GB of heap.
DRIVER_MEMORY = "2g"
# one core left to the Python driver, the JVM's own threads and the rest
# of the machine: on all 4 the drain's throughput varied by a fifth
CORES = min(3, os.cpu_count() or 1)
SHUFFLE_PARTITIONS = CORES  # state-store instances per stateful batch


def prepare_process(run_dir: Path) -> None:
    """Point every temp location of this process, the JVM it will launch
    and the Python workers at `run_dir`, before any Spark import."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + path if path else "")
    # A pre-touched heap at its cap: a heap that grows on demand made the
    # peak resident set vary by a fifth from run to run, so peak_rss_mb
    # tracks the Python driver and the JVM's memory outside the heap
    # (Spark's managed memory lives in the heap)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-memory {DRIVER_MEMORY} "
        f'--conf "spark.driver.extraJavaOptions=-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}" '
        "pyspark-shell"
    )
    os.environ["SPARK_MASTER"] = f"local[{CORES}]"
    os.environ.setdefault("PYTHONWARNINGS", "ignore")


def start_spark(run_dir: Path, event_log: bool = False):
    """A session from the package's own builder on `CORES` cores.
    With `event_log`, Spark writes an uncompressed, unrolled event log
    under `run_dir/eventlog` that `trace.fold_event_log` reads."""
    from firewatch_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
        "spark.python.worker.reuse": "true",
    }
    if event_log:
        log_dir = run_dir / "eventlog"
        log_dir.mkdir(parents=True, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(log_dir),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(
        "perfbench", shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf
    )


def shutdown_jvm() -> None:
    """Stop the JVM this process launched and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _children(pid: int) -> list[int]:
    out = []
    for task in Path(f"/proc/{pid}/task").glob("*"):
        try:
            out += [int(c) for c in (task / "children").read_text().split()]
        except OSError:
            pass
    return out


def _hwm_kb(pid: int) -> int:
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Peak resident set of this process plus the JVM it launched (the
    largest-peak process among its descendants)."""
    me = os.getpid()
    jvm = 0
    stack = _children(me)
    while stack:
        pid = stack.pop()
        jvm = max(jvm, _hwm_kb(pid))
        stack += _children(pid)
    return (_hwm_kb(me) + jvm) / 1024.0


def new_run_dir(workload: str) -> Path:
    WORK.mkdir(exist_ok=True)
    d = WORK / f"{workload}-{os.getpid()}-{int(time.time() * 1000)}"
    d.mkdir()
    return d


def remove(path: Path) -> None:
    shutil.rmtree(path, ignore_errors=True)
