"""Time a subset of registered queries and capture their plans.

The per-round optimization loop needs isolated, repeatable numbers for
the handful of queries being worked on — without paying the full
bench.py sweep each iteration.  Same methodology as bench.py: its
warm-up, its per-query clock (build + plan + noop-sink execute, with
the min run's layers and in-build job count), min-of-N, per-row load
stamps.

    python tools/bench_some.py [--sf DIR] [--reps N] [--plans DIR] q1 q2 ...

With --plans, each query's .explain("formatted") output is written to
DIR/<query>.txt (the round's before/after plan evidence).
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import layers, run_query, warm_up  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--plans", default=None,
                    help="directory for explain('formatted') dumps")
    args = ap.parse_args()

    os.environ.setdefault(
        "PYSPARK_SUBMIT_ARGS", "--driver-memory 24g pyspark-shell"
    )
    from firewatch_spark.queries import registry
    from firewatch_spark.session import get_spark

    spark = get_spark("firewatch-bench-some")
    reg = registry()
    warm_up(spark, args.sf, any(q.startswith("streaming_") for q in args.queries))

    results = {}
    for name in args.queries:
        if name not in reg:
            print(f"?? unknown query {name}", file=sys.stderr)
            continue
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            df = reg[name].fn(spark, args.sf)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            with open(os.path.join(args.plans, f"{name}.txt"), "w") as fh:
                fh.write(buf.getvalue())
        if args.reps < 1:
            print(f"{name}: plan captured", flush=True)
            continue
        load1 = os.getloadavg()[0]
        timings = [run_query(spark, name, reg[name].fn, args.sf)
                   for _ in range(args.reps)]
        runs = [round(t.total, 3) for t in timings]
        best = min(timings, key=lambda t: t.total)
        results[name] = {
            "min": round(best.total, 3),
            "runs": runs,
            **layers(best),
            "load1m": round(load1, 2),
        }
        print(f"{name}: min {best.total:.3f}s  runs {runs}  "
              f"build {best.build:.3f}s ({best.build_jobs} jobs)  "
              f"load1m {load1:.2f}", flush=True)

    print(json.dumps(results))
    spark.stop()


if __name__ == "__main__":
    main()
