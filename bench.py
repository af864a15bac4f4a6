"""Benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
    {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Every query is timed by `perfbench.registry_batch.run_one`: build, plan
and a noop-sink execute (full pipeline runs, nothing collected to the
driver) are clocked apart, so a query's time covers whatever work it
does while its DataFrame is built (checkpoints, fixture writes,
availableNow replays) — no list has to declare those queries.  A warm-up
pays JVM/codegen startup once, off the clock.  BASELINE.md's reference
numbers are frames/sec on the streaming path; the comparable figure here
is events-rows/sec through the flagship surrogate->session->stats
pipeline, reported as `rows_per_sec_flagship`.

A speed claim rests on an interleaved same-session A/B
(`tools/ab_conf.py`, `perfbench`), not on this run against the last
committed artifact: the per-row `load1m` stamps are observations, not
gates.
"""

from __future__ import annotations

import itertools
import json
import os
import signal
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perfbench.registry_batch import Timing, run_one  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Rows whose first timing is at least this long get a second run and
# keep the min (fixed work: min is the noise-robust statistic); the
# sub-0.5 s rows were never where the run-to-run spread lived.
MIN2_FLOOR_SEC = 0.5
# The driver captures 2 kB of stdout; the compact line stays under this.
LINE_MAX_BYTES = 1900

_UNTRACED = Tracer(False)
_RUN_IDS = itertools.count()


def run_query(spark, name: str, fn, sf_dir: str) -> Timing:
    """One build + plan + execute of `fn` through `run_one`, under a job
    group label no earlier run used: the status tracker keeps every
    earlier job of a group, so reusing the bare name would fold the
    previous reps' jobs into this run's `jobs` / `build_jobs`."""
    return run_one(spark, f"{name}#{next(_RUN_IDS)}", fn, sf_dir, _UNTRACED)


def layers(t: Timing) -> dict:
    """Where one timed run's seconds went, and how many Spark jobs ran
    while the frame was built vs executed."""
    return {
        "build": round(t.build, 4),
        "plan": round(t.plan, 4),
        "exec": round(t.execute, 4),
        "jobs": t.jobs,
        "build_jobs": t.build_jobs,
    }


def warm_up(spark, sf_dir: str, streaming: bool = True) -> None:
    """Off the clock: pay JVM/codegen/parquet-footer costs, fork the
    pyspark daemon's Arrow worker pool across the full core count (a
    one-shot query touching Python first otherwise pays it: 2.8 s cold
    vs 0.65 s warm for ann_topk at sf0.1), and, with `streaming`, the
    state-store and streaming-engine cold start (~3x the steady-state
    replay on a fresh JVM) on the sibling sf0.001 dir."""
    from firewatch_spark.queries import registry

    reg = registry()
    run_query(spark, "completion_stats", reg["completion_stats"].fn, sf_dir)
    spark.range(0, 64, 1, 64).mapInPandas(lambda it: it, "id long").write.format(
        "noop"
    ).mode("overwrite").save()
    if streaming:
        small = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
        run_query(
            spark, "streaming_session_parity",
            reg["streaming_session_parity"].fn, small,
        )


def min_of_2(spark, name: str, fn, sf_dir: str) -> float:
    """Min total of two `run_query` runs (fixed work: min is the noise
    statistic)."""
    return min(run_query(spark, name, fn, sf_dir).total for _ in range(2))


def time_query(spark, name: str, fn, sf_dir: str) -> dict:
    """One row of the per-query table: the min-of-2 total ("t") for rows
    of at least MIN2_FLOOR_SEC, the first run's total ("t1"), the min
    run's layers and the start-of-row load1m stamp."""
    load1 = os.getloadavg()[0]
    first = run_query(spark, name, fn, sf_dir)
    best = first
    if first.total >= MIN2_FLOOR_SEC:
        best = min(first, run_query(spark, name, fn, sf_dir), key=lambda t: t.total)
    return {
        "t": round(best.total, 4),
        "t1": round(first.total, 4),
        **layers(best),
        "load1m": round(load1, 2),
    }


def time_queries(spark, reg, names, sf_dir, runs, failed, checkpoint=None) -> None:
    """The per-query pass: each name's `time_query` row goes to
    `runs[name]`; a query that raises is counted in `failed[name]` as
    "Type: msg" and the pass goes on (the `registry_batch.run` rule).
    `checkpoint` is called every 25 rows, so a run cut short inside this
    longest stretch still leaves the rows timed so far."""
    for i, name in enumerate(names, 1):
        try:
            runs[name] = time_query(spark, name, reg[name].fn, sf_dir)
        except Exception as e:  # a failed query is counted, not fatal
            failed[name] = f"{type(e).__name__}: {str(e)[:300]}"
            print(f"bench: {name} failed: {failed[name]}", file=sys.stderr)
        if checkpoint is not None and i % 25 == 0:
            checkpoint(f"queries:{i}")


def compact_line(full: dict, min_sec: float) -> str:
    """The stdout line for `full` (a BENCH_FULL.json dict), keeping the
    per-query rows of at least `min_sec`, slowest first."""
    tmap = full["queries"]
    kept = {n: round(v, 2) for n, v in tmap.items() if v >= min_sec}
    payload = {
        "metric": "total_wall_sec",
        "value": full["value"],
        "unit": "sec",
        "sf": full["sf"],
        "n_queries": len(tmap),
        "n_failed": len(full.get("failed") or {}),
        # slowest-first: the informative end of the distribution
        "queries": dict(sorted(kept.items(), key=lambda kv: -kv[1])),
        "q_omitted_below_sec": min_sec,
        "q_omitted": len(tmap) - len(kept),
        "rows_per_sec_flagship": full.get("rows_per_sec_flagship"),
        "flagship_min_sec": full.get("flagship_min_sec"),
        "flagship_p50_sec": full.get("flagship_p50_sec"),
        "flagship_p95_sec": full.get("flagship_p95_sec"),
        "load1m_start": full["loadavg_start"][0],
        "sessionized_rows_per_sec_stream": full.get("sessionized_rows_per_sec_stream"),
    }
    if full.get("partial"):
        payload["partial"] = full["partial"]
    inf = full.get("batched_inference") or {}
    if "pandas_vs_row_speedup" in inf:
        payload["pandas_vs_row_speedup"] = inf["pandas_vs_row_speedup"]
        payload["column_vs_row_speedup"] = inf["column_vs_row_speedup"]
    sc = (full.get("scaling") or {}).get("queries") or {}
    if sc:
        payload["scaling_slope_vs_linear"] = {
            n: s["slope_vs_linear"] for n, s in sc.items()
        }
    payload["full"] = "BENCH_FULL.json"
    return json.dumps(payload, separators=(",", ":"))


def fit_line(full: dict) -> str:
    """ONE compact line of at most LINE_MAX_BYTES, so the driver's 2 kB
    capture parses it (a mid-line truncation loses the whole record).
    Raise the per-query floor first; if that is not enough, drop the
    slope map (verbatim in BENCH_FULL.json), then cut the query map from
    its fast end — the expensive tail always survives."""
    line = compact_line(full, 0.0)
    for threshold in (0.05, 0.1, 0.2, 0.3, 0.5, 1.0):
        if len(line) <= LINE_MAX_BYTES:
            return line
        line = compact_line(full, threshold)
    if len(line) > LINE_MAX_BYTES:
        payload = json.loads(line)
        payload.pop("scaling_slope_vs_linear", None)
        qs = list(payload["queries"].items())  # already slowest-first
        while True:
            payload["queries"] = dict(qs)
            payload["q_omitted"] = payload["n_queries"] - len(qs)
            line = json.dumps(payload, separators=(",", ":"))
            if len(line) <= LINE_MAX_BYTES or not qs:
                break
            qs = qs[:-1]
    return line


# Driver-timeout backstop: after every completed pass main() stores the
# freshest compact line here; if the driver's `timeout` SIGTERMs the
# bench, the handler prints it before dying, so a truncated run still
# delivers everything timed so far.  BENCH_FULL.json is likewise
# rewritten at each checkpoint.
_SNAPSHOT: dict = {"line": None}


def _emit_snapshot_and_exit(signum, frame):  # pragma: no cover - signal path
    line = _SNAPSHOT.get("line")
    if line:
        print(line, flush=True)
    os._exit(3)


# The capped/bucketed operators whose slope the bench reports at
# SCALE_FACTOR x the documents/embeddings volume.
SCALE_FACTOR = 5
SCALE_QUERIES = [
    "dedup_exact",
    "dedup_minhash_lsh",
    "simhash_pairs",
    "near_dup_clusters",
    "repetition_stats",
    "ann_lsh_buckets",
    "ann_ivf_topk",
    "cross_doc_packing",
    # the production O(candidates) verify composition; the sampled
    # all-pairs ngram_jaccard is deliberately NOT a slope target —
    # its pair count is quadratic in the sample BY DESIGN (measured
    # 1.46× linear at 5x; C(200,2)→C(1000,2) rows)
    "lsh_verify",
    # round-5 session-4 operators whose caps/buckets should be
    # proven, not argued: capped cross-side band join, vocabulary-
    # keyed joins, bucket-offset global rank, two-phase top-k
    "incremental_dedup",
    "unigram_score",
    "corpus_shuffle",
    "source_cap",
    # every-offset gram window + per-doc interval union — the
    # heaviest linear text op, slope should stay ~linear
    "dup_ngram_coverage",
    # bigram count + argmax broadcast + parity windows — the
    # tokenizer-induction round
    "bpe_merge",
    # round-6 operators whose caps/buckets should be proven:
    # stored-index band join + carrier md5 scan
    "incremental_dedup_indexed",
    # bucketed cosine self-join + label propagation
    "embedding_dedup_keep",
    # pure linear token fold — the slope floor
    "quality_classifier",
    # round-7 operators: bloom-prefiltered band join (the prefilter
    # should IMPROVE the slope vs the unfiltered indexed form),
    # PQ index build + ADC probe (codes/LUT joins must stay
    # Σ-probed-cell, never corpus²), island-union removal and the
    # hamming-banded image pairs (both linear by construction)
    "incremental_dedup_bloom",
    "ann_ivf_pq_topk",
    "dup_span_removal",
    "image_phash_dedup",
    # int8 brute-force scan — linear by construction like ann_topk;
    # hard_negative_mining shares the identical scan shape
    "ann_sq8_topk",
    # round-8: two bounded gram-count aggs + broadcast ≤10⁴-row
    # log-ratio table + two-phase rank — should track the linear
    # token-fold floor (quality_classifier), never the pair ops
    "dsir_importance_sample",
    # round-10: postings join + per-query top-k (constant query
    # set — the posting count, not the corpus, should scale)
    "bm25_topk",
    # pure let-bound line folds — the quality_classifier floor
    "c4_filters",
    # groupBy(line-hash) min-coords + reassembly — span_dedup's
    # shape on natural boundaries
    "line_dedup",
    # round-11: keep-first postings (min/max partials) + the same
    # island/rebuild tail as dup_span_removal — must track it
    "cross_doc_span_dedup",
    # round-12: the span-50 hash-doubling form — 6 per-row md5
    # sweeps replace the 50x window-string blow-up; must track the
    # family's linear slope, not the direct builder's string cost
    "long_span_dedup",
    # distinct (source, hash) + two-phase bottom-k + exact-audit
    # equi-join — the audit join is the only corpus-scale edge
    "corpus_overlap_minhash",
    # bounded suffix explode + plain equi-join on the suffix key
    "domain_blocklist_filter",
    # trained-merge apply rounds + one lang-keyed agg
    "tokenizer_compression",
    # JM scorer + two-phase global rank + two doc-keyed joins —
    # the stacked filter gate, JM-dominated
    "quality_filter_ensemble",
    # quality_threshold_sweep / dedup_savings_report are NOT slope
    # targets: they ride quality_classifier's fold and
    # dedup_exact's hash-groupBy respectively, both already proven;
    # lsh_band_plan is sample-bound by ngram_jaccard (deliberately
    # quadratic in its 1/25 sample, like ngram_jaccard itself);
    # semantic_dedup_pipeline is quadratic-within-cell AT FIXED k
    # BY DESIGN (SemDeDup's scale control is k ∝ √n, a caller
    # parameter the registered fixed-k attestation can't vary —
    # SCALE.md records the measured fixed-k slope and the k-scaling
    # arithmetic instead)
]


def main() -> None:
    # Size the single local-mode JVM for the whole registry session:
    # the default heap survived ~165 queries and then OOMed in task
    # broadcast deserialization once web_corpus_pipeline's sf0.1
    # payload DISTINCTs landed at the end of the alphabet (round 10).
    # 24 g since round 11: min-of-2 everywhere roughly doubled the
    # allocation volume per session and the 16 g heap GC-aged by the
    # streaming rows.
    # PYSPARK_SUBMIT_ARGS is the one route that reaches a
    # not-yet-started JVM (session.py documents why getOrCreate can't).
    os.environ.setdefault(
        "PYSPARK_SUBMIT_ARGS", "--driver-memory 24g pyspark-shell"
    )
    from firewatch_spark.queries import registry
    from firewatch_spark.session import get_spark

    load_start = os.getloadavg()
    full_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json"
    )

    spark = get_spark("firewatch-bench")
    reg = registry()

    # ---- incremental evidence assembly ----------------------------
    # State the passes fill in as they complete; assemble() tolerates
    # the not-yet-run ones so a checkpoint after ANY pass yields a
    # valid (partial-flagged) artifact + compact line.
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    runs: dict[str, dict] = {}
    failed: dict[str, str] = {}
    flagship_runs: list[float] = []
    inference: dict | None = None
    scaling: dict = {}
    n_events: int | None = None

    def assemble(stage: str) -> dict:
        times = {n: r["t"] for n, r in runs.items()}
        fr = flagship_runs
        pct = (
            (lambda p: round(fr[min(int(p * len(fr)), len(fr) - 1)], 4))
            if fr
            else (lambda p: None)
        )
        med = fr[len(fr) // 2] if fr else None
        stream_t = times.get("streaming_session_parity")
        full = {
            "metric": "total_wall_sec",
            "value": round(sum(times.values()), 4),
            "unit": "sec",
            "queries": times,
            "queries_runs": runs,
            "failed": failed,
            "sf": float(sf),
            "rows_per_sec_flagship": (
                round(n_events / med, 1) if n_events and med else None
            ),
            # min-of-5 beside the percentiles: min is the noise-robust
            # latency statistic for fixed work
            "flagship_min_sec": round(fr[0], 4) if fr else None,
            "flagship_p50_sec": pct(0.5),
            "flagship_p95_sec": pct(0.95),
            "loadavg_start": [round(x, 2) for x in load_start],
            "loadavg_end": [round(x, 2) for x in os.getloadavg()],
            # streaming throughput headline: the full stateful session
            # operator (W1-W4) replayed as a real micro-batched query
            # end-to-end — comparable to the reference's 20-30
            # fps/processor figure (docs/PERFORMANCE.md:7-9)
            "sessionized_rows_per_sec_stream": (
                round(n_events / stream_t, 1) if n_events and stream_t else None
            ),
            "batched_inference": inference,
            "scaling": {"factor": SCALE_FACTOR, "queries": scaling},
        }
        if stage != "final":
            full["partial"] = stage
        return full

    def checkpoint(stage: str) -> dict:
        """Write BENCH_FULL.json and refresh the SIGTERM snapshot line
        with everything timed so far (a driver timeout may truncate the
        bench, never zero its evidence)."""
        full = assemble(stage)
        with open(full_path, "w") as fh:
            json.dump(full, fh, indent=1, sort_keys=True)
        _SNAPSHOT["line"] = fit_line(full)
        return full

    signal.signal(signal.SIGTERM, _emit_snapshot_and_exit)

    warm_up(spark, SF_DIR)
    n_events = spark.read.parquet(f"{SF_DIR}/events.parquet").count()

    # flagship latency percentiles (reference scripts/bench.py reports
    # p50/p95/p99 per frame; the batch analog is repeated query runs).
    # Run BEFORE the main loop: right after near_dup_clusters' ~40
    # label-propagation actions the session residue inflated p50
    # 0.33→0.41 s.  One untimed rep first: the flagship is the
    # session's first sf-dir query, so it would otherwise pay the
    # first-read footer + codegen cost inside its percentile window.
    flagship = reg["session_stats"].fn
    run_query(spark, "session_stats", flagship, SF_DIR)
    flagship_runs = sorted(
        run_query(spark, "session_stats", flagship, SF_DIR).total for _ in range(5)
    )

    # The streaming rows stay in this single warmed session: a
    # mid-bench `spark.stop()` + re-`get_spark()` shares the aged JVM,
    # so it drops the warmed state-store/codegen caches while keeping
    # the heap residue (streaming_session_parity read 77.9 s in a
    # restarted session vs ~7 s warm in-loop).
    time_queries(spark, reg, sorted(reg), SF_DIR, runs, failed, checkpoint)
    checkpoint("queries")

    # Batched-inference demonstration — the reference's explicitly
    # deferred win (docs/PERFORMANCE.md:148-150): same surrogate model
    # as a row-at-a-time Python UDF vs Arrow pandas UDF vs JVM column
    # expression, timed over the same scan, min-of-2 each.
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    from firewatch_spark import surrogate

    # lineitem's key column: enough rows that per-row Python overhead
    # (what batching removes) dominates the timing signal
    ev = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        F.col("l_orderkey").alias("event_id")
    )
    row_udf = F.udf(
        lambda s: float((s * surrogate.KNUTH) % surrogate.MOD) / surrogate.MOD,
        "double",
    )
    # lambda form: `from __future__ import annotations` stringifies type
    # hints, which breaks pandas_udf signature inference
    arrow_udf = pandas_udf(
        lambda s: ((s * surrogate.KNUTH) % surrogate.MOD) / float(surrogate.MOD),
        "double",
    )
    inference = {"load1m": round(os.getloadavg()[0], 2)}
    for key, col in (
        ("row_udf_sec", row_udf(F.col("event_id"))),
        ("pandas_udf_sec", arrow_udf(F.col("event_id"))),
        ("column_expr_sec", surrogate.raw_probability(F.col("event_id"))),
    ):
        frame = ev.select(col.alias("p"))
        inference[key] = round(min_of_2(spark, key, lambda *_: frame, SF_DIR), 4)
    # NB: the surrogate's arithmetic is trivial, so this measures pure
    # per-row overhead; a real model forward pass widens the gap by its
    # per-call cost (the reference's deferred "batched inference" win).
    inference["pandas_vs_row_speedup"] = round(
        inference["row_udf_sec"] / inference["pandas_udf_sec"], 2
    )
    inference["column_vs_row_speedup"] = round(
        inference["row_udf_sec"] / inference["column_expr_sec"], 2
    )
    checkpoint("inference")

    # Scaling slope: the capped/bucketed operators, re-timed on a 5x
    # replication of SF_DIR's documents+embeddings (word-salted so
    # near-dup structure scales linearly, see tools/scale_data.py).
    # slope_vs_linear = (t_5x / t_1x) / 5: 1.0 = perfectly linear, < 1
    # sublinear (fixed overhead amortizing out), > 1 superlinear (a
    # pair explosion or an uncapped join).
    from tools.scale_data import build_scaled_dir

    # fresh session for the slope points: the x5 numbers are exactly
    # the rows a tired heap poisons
    spark.stop()
    spark = get_spark("firewatch-bench")
    warm_up(spark, SF_DIR, streaming=False)

    # Both points use IDENTICALLY-built dirs (32-file parquet): timing
    # the x1 point off SF_DIR's single-file layout confounds the slope
    # with scan parallelism (measured: two queries ran FASTER at 5x
    # against the one-file baseline).
    bench_root = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), ".bench_scale"
    )
    dirs = {}
    for factor in (1, SCALE_FACTOR):
        d = os.path.join(bench_root, f"x{factor}")
        # BOTH tables must exist: documents is written first, so a
        # crash between the two writes would otherwise look complete
        # forever and feed the embedding slopes stale/missing data
        if not all(
            os.path.exists(os.path.join(d, t, "_SUCCESS"))
            for t in ("documents.parquet", "embeddings.parquet")
        ):
            build_scaled_dir(spark, SF_DIR, d, factor)
        dirs[factor] = d
    # min-of-2 per slope POINT: the x1 points are sub-second for several
    # operators, so one 0.3 s jitter spike would double the slope
    for name in SCALE_QUERIES:
        slope_load = os.getloadavg()[0]
        t_base = min_of_2(spark, name, reg[name].fn, dirs[1])
        t_scaled = min_of_2(spark, name, reg[name].fn, dirs[SCALE_FACTOR])
        scaling[name] = {
            "t_1x_sec": round(t_base, 4),
            f"t_{SCALE_FACTOR}x_sec": round(t_scaled, 4),
            "slope_vs_linear": round(t_scaled / t_base / SCALE_FACTOR, 3),
            "load1m": round(slope_load, 2),
        }
    checkpoint("final")
    print(_SNAPSHOT["line"])
    spark.stop()


if __name__ == "__main__":
    main()
