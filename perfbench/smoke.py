"""Smoke mode: every workload at tiny sizes, untraced and traced, on one
Spark JVM.  Checks that each run is correct and that the metric names
and units it emits match BENCHMARK.json.

    python3 perfbench/smoke.py
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))


def main() -> int:
    from perfbench import sparkenv
    from perfbench.inputs import Sizes
    from perfbench.run import END_TO_END, PER_LAYER, WORKLOADS, run

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    declared = {
        False: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        True: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    problems = []
    if declared[False] != END_TO_END or declared[True] != PER_LAYER:
        problems.append("BENCHMARK.json metrics differ from perfbench/run.py's")
    if [w["name"] for w in spec["workloads"]] != list(WORKLOADS):
        problems.append("BENCHMARK.json workloads differ from perfbench/run.py's")
    run_dir = sparkenv.new_run_dir("smoke")
    sparkenv.prepare_process(run_dir)
    try:
        for workload in WORKLOADS:
            for trace in (False, True):
                res = run(workload, 7, 1, trace, run_dir, Sizes.tiny(), setups=1)
                got = {k: v["unit"] for k, v in res["metrics"].items()}
                where = f"{workload} trace={int(trace)}"
                if set(res) != {"correct", "attempted", "failed", "metrics"}:
                    problems.append(f"{where}: result keys {sorted(res)}")
                if got != declared[trace]:
                    problems.append(f"{where}: metrics {sorted(set(got) ^ set(declared[trace]))} differ")
                if not res["correct"] or res["failed"] or res["attempted"] < 1:
                    problems.append(f"{where}: {res['failed']} of {res['attempted']} failed")
                print(f"smoke {where}: {res['attempted']} attempted, {res['failed']} failed", flush=True)
    finally:
        sparkenv.shutdown_jvm()
        sparkenv.remove(run_dir)
    for p in problems:
        print("PROBLEM", p)
    print("smoke ok" if not problems else f"smoke failed: {len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
