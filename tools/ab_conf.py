"""Interleaved same-session A/B of runtime-settable SQL confs.

    python tools/ab_conf.py --conf KEY=VA,VB [--reps N] q1 q2 ...

For each query, alternates VA/VB per rep inside ONE warmed session —
same JVM, same weather — and reports per-side mins.  Each rep is
bench.py's per-query clock (build + plan + noop-sink execute).  Only
valid for runtime-settable SQL confs (AQE knobs are); the package's
environment knobs are read once at session start, so flipping them
mid-session would change nothing.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import run_query, warm_up  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--reps", type=int, default=3, help="reps PER SIDE")
    ap.add_argument("--conf", required=True,
                    help="KEY=VA,VB (side A gets VA, side B gets VB)")
    args = ap.parse_args()

    key, vals = args.conf.split("=", 1)
    va, vb = vals.split(",", 1)

    os.environ.setdefault(
        "PYSPARK_SUBMIT_ARGS", "--driver-memory 24g pyspark-shell"
    )
    from firewatch_spark.queries import registry
    from firewatch_spark.session import get_spark

    spark = get_spark("firewatch-ab-conf")
    reg = registry()
    warm_up(spark, args.sf, any(q.startswith("streaming_") for q in args.queries))

    results = {}
    for name in args.queries:
        if name not in reg:
            print(f"?? unknown query {name}", file=sys.stderr)
            continue
        sides: dict[str, list[float]] = {"A": [], "B": []}
        load1 = os.getloadavg()[0]

        # one untimed warm rep so neither side pays first-touch costs
        spark.conf.set(key, va)
        run_query(spark, name, reg[name].fn, args.sf)
        for i in range(args.reps):
            # counterbalanced order (A,B / B,A alternating) so warm-up
            # drift across reps cannot systematically favor one side
            order = (("A", va), ("B", vb)) if i % 2 == 0 else (("B", vb), ("A", va))
            for side, val in order:
                spark.conf.set(key, val)
                sides[side].append(
                    run_query(spark, name, reg[name].fn, args.sf).total
                )
        results[name] = {
            "A_min": round(min(sides["A"]), 3),
            "B_min": round(min(sides["B"]), 3),
            "A_runs": [round(t, 3) for t in sides["A"]],
            "B_runs": [round(t, 3) for t in sides["B"]],
            "load1m": round(load1, 2),
        }
        print(
            f"{name}: A({va}) min {min(sides['A']):.3f}  "
            f"B({vb}) min {min(sides['B']):.3f}  "
            f"A {results[name]['A_runs']}  B {results[name]['B_runs']}",
            flush=True,
        )

    print(json.dumps(results))
    spark.stop()


if __name__ == "__main__":
    main()
