"""The registry workload: a fixed subset of `queries.registry()` at
sf0.01, one query at a time in a seeded order.  Build (the query
function), plan (`executedPlan` of the built frame) and execute (a noop
write) are timed apart; each query's job group makes its Spark jobs
countable.  Row counts come from an `observe` on the timed write and are
checked against the DuckDB twin's count, off the clock."""

from __future__ import annotations

import statistics
import time
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path

# one query per operator module, plus the two streaming twins
QUERIES = (
    "global_counters",  # operators.aggregates
    "session_stats",  # operators.sessions
    "inference_cadence",  # operators.cadence
    "dedup_exact",  # operators.dedup
    "text_stats",  # operators.text
    "ann_topk",  # operators.similarity
    "link_extract",  # operators.web
    "stratified_sample",  # operators.sampling
    "revenue_by_nation",  # operators.joins
    "salted_join_agg",  # operators.skew
    "streaming_session_parity",
    "streaming_ep2_parity",
)
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
)


def oracle_counts(data_dir: Path, names) -> dict[str, int]:
    """Row count of each query's DuckDB twin on the same tables."""
    import duckdb

    from firewatch_spark.queries import registry

    reg = registry()
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        return {
            n: con.execute(f"SELECT COUNT(*) FROM ({reg[n].oracle})").fetchone()[0]
            for n in names
        }
    finally:
        con.close()


@dataclass
class Timing:
    build: float
    plan: float
    execute: float
    rows: int
    jobs: int
    build_jobs: int

    @property
    def total(self) -> float:
        return self.build + self.plan + self.execute


@dataclass
class Outcome:
    times: dict[str, list[Timing]] = field(default_factory=lambda: defaultdict(list))
    errors: dict[str, str] = field(default_factory=dict)
    passes: int = 0

    def median(self, name: str, attr: str) -> float:
        return statistics.median(getattr(t, attr) for t in self.times[name])

    def per_query_s(self) -> list[float]:
        return [self.median(n, "total") for n in self.times]

    def per_pass_s(self) -> list[float]:
        """Each pass's summed query time: one request of the client."""
        return [sum(ts[i].total for ts in self.times.values() if i < len(ts)) for i in range(self.passes)]


def run_one(spark, name: str, fn, data_dir: Path, tracer) -> Timing:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    with tracer.span("registry.query", query=name):
        sc.setJobGroup(f"build:{name}", name)
        with tracer.span("registry.build"):
            t0 = time.perf_counter()
            df = fn(spark, str(data_dir))
            t1 = time.perf_counter()
        sc.setJobGroup(f"plan:{name}", name)
        with tracer.span("registry.plan"):
            df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
        sc.setJobGroup(f"exec:{name}", name)
        obs = Observation(f"rows_{name}")
        with tracer.span("registry.exec"):
            df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
                "overwrite"
            ).save()
            t3 = time.perf_counter()
        sc.setJobGroup("perfbench", "perfbench")
    return Timing(
        t1 - t0, t2 - t1, t3 - t2, int(obs.get["n"]),
        len(tracker.getJobIdsForGroup(f"exec:{name}")),
        len(tracker.getJobIdsForGroup(f"build:{name}")),
    )


def run(spark, data_dir: Path, rng, seconds: float, tracer, listener=None) -> Outcome:
    """Passes over `QUERIES` in seeded orders until `seconds` have gone
    by (at least one full pass)."""
    from firewatch_spark.queries import registry

    reg = registry()
    out = Outcome()
    t_start = time.perf_counter()
    while out.passes == 0 or time.perf_counter() - t_start < seconds:
        for i in rng.permutation(len(QUERIES)):
            name = QUERIES[i]
            if listener is not None:
                listener.label = name
            try:
                out.times[name].append(run_one(spark, name, reg[name].fn, data_dir, tracer))
            except Exception as e:  # a failed query is counted, not fatal
                out.errors[name] = f"{type(e).__name__}: {str(e)[:300]}"
        out.passes += 1
    return out


def warm_up(spark, data_dir: Path) -> None:
    """Off the clock: one batch query starts the Python workers and
    loads the reader's and the planner's code paths."""
    from firewatch_spark.queries import registry
    from perfbench.trace import Tracer

    run_one(spark, "global_counters", registry()["global_counters"].fn, data_dir, Tracer(False))


def score(out: Outcome, expected: dict[str, int]) -> tuple[int, int]:
    """(attempted, failed): every execution counts; a failure is an
    error or a row count that differs from the DuckDB twin's."""
    attempted = sum(len(v) for v in out.times.values()) + len(out.errors)
    failed = len(out.errors) + sum(
        1 for n, ts in out.times.items() for t in ts if t.rows != expected.get(n)
    )
    return attempted, failed

