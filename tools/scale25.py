"""One-off 25x scaling probe (SCALE.md "third point") — re-times
selected documents-only registry queries on the x1 and x25 replicated
dirs built by tools/scale_data.py, printing slope_vs_linear per query.

Usage:  python tools/scale25.py [--stages] [query ...]
``--stages`` runs the SemDeDup per-stage probe instead (VERDICT r12
#5): train/assign/pairs/cluster wall seconds at x1 (k=16) and at the
scale point under BOTH fixed k=16 and k = 16*sqrt(f), so the n*k vs
n^2/k split is measured per stage rather than inferred from totals.
The session mirrors the round-5 sizing lesson: 48g heap, 64 shuffle
partitions (the default heap GC-thrashed label propagation at 25x).

Each timing point is the min of 2 runs of bench.py's per-query clock
(build + plan + noop-sink execute), after one untimed warm run at x1.

The pseudo-query name ``semantic_dedup_kscaled`` probes the SemDeDup
composition with its production scale control applied: k = 16·sqrt(f)
cells at the xf point (vs the registered fixed k=16), demonstrating
that Sigma cell^2 stays controlled when k grows with the corpus
(Abbas et al. 2023 size k proportional to sqrt(n)).
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import min_of_2, run_query  # noqa: E402

DEFAULT = [
    "dup_span_removal",
    "incremental_dedup_bloom",
    "image_phash_dedup",
    "audio_fingerprint_dedup",
    "bpe_vocab_induction",
    "bpe_apply_trained",
]


def _semdedup_kscaled(spark, sf_dir: str, k: int):
    """The semantic_dedup_pipeline composition with caller-controlled
    k — identical plan shapes, only the cell count varies (the
    SemDeDup scale knob).  Mirrors queries.semantic_dedup_pipeline."""
    from pyspark.sql import functions as F

    from firewatch_spark import queries as Q
    from firewatch_spark.operators import dedup, similarity

    emb = Q._tbl(spark, sf_dir, "embeddings")
    cents = similarity.ivf_train(emb, k=k, iters=2)
    cells = similarity.ivf_assign(emb, cents).select("vec_id", "centroid_id")
    pairs = similarity.cell_near_dup(emb, cells, threshold=Q._SEMDEDUP_THR)
    clusters = dedup.near_dup_clusters(
        pairs, emb.select("vec_id"), id_col="vec_id"
    )
    joined = cells.join(clusters.select("vec_id", "cluster_id"), "vec_id")
    return joined.groupBy(F.col("centroid_id").alias("cell")).agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.countDistinct("cluster_id").cast("long").alias("n_kept"),
    )


def _semdedup_stages(spark, sf_dir: str, k: int) -> dict[str, float]:
    """Per-stage wall seconds for the SemDeDup composition (VERDICT
    r12 #5): train / assign / pairs / cluster, each stage materialized
    via util.materialize so its clock is isolated from lineage
    re-execution.  This turns the n·k (train/assign) vs n²/k (pairs)
    split from arithmetic into measurement: at a scale point, compare
    fixed k=16 against k = 16·sqrt(f) stage by stage to see WHERE the
    k-scaling knob pays and where it costs."""
    from pyspark.sql import functions as F

    from firewatch_spark import queries as Q
    from firewatch_spark.operators import dedup, similarity
    from firewatch_spark.operators.util import materialize

    out: dict[str, float] = {}
    emb = Q._tbl(spark, sf_dir, "embeddings")
    t0 = time.perf_counter()
    cents = materialize(similarity.ivf_train(emb, k=k, iters=2))
    out["train"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    cells = (
        similarity.ivf_assign(emb, cents)
        .select("vec_id", "centroid_id")
        .transform(materialize)
    )
    out["assign"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    pairs = materialize(
        similarity.cell_near_dup(emb, cells, threshold=Q._SEMDEDUP_THR)
    )
    out["pairs"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    clusters = dedup.near_dup_clusters(
        pairs, emb.select("vec_id"), id_col="vec_id"
    )
    joined = cells.join(clusters.select("vec_id", "cluster_id"), "vec_id")
    agg = joined.groupBy(F.col("centroid_id").alias("cell")).agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.countDistinct("cluster_id").cast("long").alias("n_kept"),
    )
    agg.write.format("noop").mode("overwrite").save()
    out["cluster"] = time.perf_counter() - t0
    return out


def run_semdedup_stage_probe(spark, dirs: dict[int, str], factor: int) -> None:
    """--stages mode: per-stage seconds at x1 (k=16) and at x{factor}
    under BOTH fixed k=16 and the k = 16·sqrt(factor) scale control,
    with load stamps so a reader can audit the weather per point."""
    points = [
        ("x1/k16", dirs[1], 16),
        (f"x{factor}/k16-fixed", dirs[factor], 16),
        (
            f"x{factor}/k{max(1, round(16 * math.sqrt(factor)))}-scaled",
            dirs[factor],
            max(1, round(16 * math.sqrt(factor))),
        ),
    ]
    for label, d, k in points:
        load1 = os.getloadavg()[0]
        stages = _semdedup_stages(spark, d, k)
        total = sum(stages.values())
        detail = " ".join(f"{s}={t:.2f}s" for s, t in stages.items())
        print(
            f"semdedup_stages {label}: {detail} total={total:.2f}s "
            f"load1m={load1:.2f}"
        )


def main() -> None:
    from pyspark.sql import SparkSession

    from firewatch_spark.queries import registry

    # SPARK_GRAFT_SCALE_FACTOR=125 probes x1 -> x125 instead (build the
    # dir first: tools/scale_data.py /root/testdata/sf0.1 .bench_scale/x125 125)
    factor = int(os.environ.get("SPARK_GRAFT_SCALE_FACTOR", "25"))
    argv = sys.argv[1:]
    stages_mode = "--stages" in argv
    names = [a for a in argv if a != "--stages"] or DEFAULT
    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".bench_scale"
    )
    dirs = {1: os.path.join(root, "x1"), factor: os.path.join(root, f"x{factor}")}
    for d in dirs.values():
        if not os.path.exists(os.path.join(d, "documents.parquet", "_SUCCESS")):
            raise SystemExit(f"missing scaled dir {d} — run bench.py first (x1/x5) "
                             "and tools/scale_data.py for x25")

    # r14 (VERDICT r13 #2): core count is a parameter so the probe can
    # produce 8-vs-32-core evidence at a scale where compute dominates
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.driver.memory", "48g")
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    reg = registry()

    if stages_mode:
        run_semdedup_stage_probe(spark, dirs, factor)
        spark.stop()
        return

    def builder(name: str, sf_dir: str):
        if name != "semantic_dedup_kscaled":
            return reg[name].fn
        # k scaled with the dir's replication factor: sqrt(1)=1 -> k=16 at x1
        f = factor if sf_dir == dirs[factor] else 1
        k = max(1, round(16 * math.sqrt(f)))
        return lambda spark, d: _semdedup_kscaled(spark, d, k)

    for name in names:
        load1 = os.getloadavg()[0]
        # PER-OP warmup at x1: each query's first execution pays Arrow
        # worker-pool fork + per-stage codegen once — measured 18.4 s
        # cold vs 2.4 s warm for the audio fingerprint — which would
        # otherwise corrupt the slope's x1 denominator
        run_query(spark, name, builder(name, dirs[1]), dirs[1])
        t1 = min_of_2(spark, name, builder(name, dirs[1]), dirs[1])
        tN = min_of_2(spark, name, builder(name, dirs[factor]), dirs[factor])
        print(
            f"{name}: t_1x={t1:.2f}s t_{factor}x={tN:.2f}s "
            f"slope_vs_linear={(tN / t1 / factor):.3f} "
            f"load1m={load1:.2f}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
