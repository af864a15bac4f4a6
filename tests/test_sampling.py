"""Deterministic splitting + embedding storage-transform contracts."""

import math

import pytest

from pyspark.sql import functions as F

from firewatch_spark.operators import sampling
from tests.conftest import rows


def test_split_by_hash_deterministic_and_proportional(spark):
    df = spark.range(0, 20_000).selectExpr("id AS doc_id")
    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = {r["doc_id"]: r["split"] for r in rows(sampling.split_by_hash(df, fr))}
    b = {r["doc_id"]: r["split"] for r in rows(sampling.split_by_hash(df, fr))}
    assert a == b  # content-stable across runs
    counts = {s: sum(1 for v in a.values() if v == s) for s in fr}
    for s, f in fr.items():
        assert abs(counts[s] / 20_000 - f) < 0.01, (s, counts)
    # a different salt re-draws the assignment
    c = {r["doc_id"]: r["split"] for r in rows(sampling.split_by_hash(df, fr, salt="v2"))}
    assert c != a
    with pytest.raises(ValueError):
        sampling.split_by_hash(df, {"train": 0.5, "val": 0.1})


def test_unit_norm_and_int8_quantization(spark):
    df = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [0.0, 0.0]), (3, [1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    out = {r["vec_id"]: r for r in rows(
        sampling.with_int8_quantized(sampling.with_unit_norm(df))
    )}
    assert out[1]["unit"] == pytest.approx([0.6, 0.8])
    assert out[2]["unit"] == [0.0, 0.0]  # zero vector: no NaN
    assert out[1]["q8"] == [round(0.6 * 127), round(0.8 * 127)]
    assert out[3]["q8"] == [127, 0]
    # norm of every non-zero unit vector is 1
    n = rows(
        sampling.with_unit_norm(df).selectExpr(
            "vec_id",
            "aggregate(unit, CAST(0.0 AS DOUBLE), (a, x) -> a + x * x) AS n2",
        ),
        "vec_id",
    )
    assert n[0]["n2"] == pytest.approx(1.0) and n[2]["n2"] == pytest.approx(1.0)
    # int8 dot approximates cosine: unit vecs (0.6,0.8)·(1,0) = 0.6
    q1, q3 = out[1]["q8"], out[3]["q8"]
    approx_cos = sum(x * y for x, y in zip(q1, q3)) / (127 * 127)
    assert math.isclose(approx_cos, 0.6, rel_tol=0.02)


def test_dsir_selects_target_like_docs(spark):
    """DSIR contract: docs sharing the target's vocabulary out-rank
    docs that don't, and exactly ceil(frac·N) rows survive with ranks
    1..n_keep."""
    target = spark.createDataFrame(
        [("alpha beta gamma delta",), ("beta gamma alpha beta",)], "text string"
    )
    pool = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),        # target-like
            (2, "beta gamma delta alpha"),  # target-like
            (3, "xray yankee zulu zulu"),   # off-distribution
            (4, "quebec romeo sierra"),     # off-distribution
        ],
        "doc_id long, text string",
    )
    out = rows(sampling.dsir_importance_sample(pool, target, keep_frac=0.5), "rank")
    assert [r["doc_id"] for r in out] in ([1, 2], [2, 1])
    assert [r["rank"] for r in out] == [1, 2]


def test_dsir_materialize_parity_and_plan_cut(spark):
    """The importance table is materialized before the rank tail (the
    r13 replay cut): the final plan reads the checkpointed RDD instead
    of replaying the DSIR chain (no in-memory table scan of the pool's
    LocalTableScan below the rank join).  Values stay pinned by the
    tiny-pool and two-phase-rank tests here and by the registry's DSIR
    oracle hash."""
    target = spark.createDataFrame(
        [("alpha beta gamma delta",), ("beta gamma alpha beta",)], "text string"
    )
    pool = spark.createDataFrame(
        [(i, f"alpha beta tok{i % 7} gamma tok{i % 5}") for i in range(30)],
        "doc_id long, text string",
    )
    cut = sampling.dsir_importance_sample(pool, target, keep_frac=0.5)
    plan = cut._jdf.queryExecution().executedPlan().toString()
    # the rank tail must consume the checkpointed RDD, not replay the
    # gram-explode chain per consumer
    assert "Scan ExistingRDD" in plan
    # ADVICE r13: "Scan ExistingRDD is present" alone would still pass
    # if only ONE of the tail consumers read the checkpoint while the
    # others replayed the gram chain — so also assert the replayed
    # chain is ABSENT: the 'dsir|' gram-bucket md5 (sampling._bucket_expr)
    # appears in every gram-explode replay and must not survive below
    # the checkpoint.
    assert "dsir|" not in plan


def test_dsir_two_phase_rank_matches_naive_window(spark):
    """The range-bucket two-phase global rank is bit-identical to the
    one-task row_number() OVER (ORDER BY importance DESC, doc_id)."""
    from pyspark.sql import Window

    target = spark.createDataFrame(
        [("common words here",), ("more common words",)], "text string"
    )
    pool = spark.createDataFrame(
        [(i, f"common words tok{i % 7} tok{i % 5} here") for i in range(40)],
        "doc_id long, text string",
    )
    imp = sampling.dsir_importance(pool, target)
    w = Window.orderBy(F.desc("importance"), F.asc("doc_id"))
    naive = {
        r["doc_id"]: r["rk"]
        for r in rows(imp.withColumn("rk", F.row_number().over(w)))
    }
    two_phase = rows(sampling.dsir_importance_sample(pool, target, keep_frac=1.0))
    assert len(two_phase) == 40
    for r in two_phase:
        assert r["rank"] == naive[r["doc_id"]]


def test_pps_sample_certainty_stratum_and_count(spark):
    """PPS contracts: a row with weight >= W/n is ALWAYS selected (with
    selected_times proportional to its span), total selections across
    rows equal exactly n, and zero-weight rows are never selected."""
    rows_in = [(i, 10) for i in range(1, 21)] + [(99, 800), (100, 0)]
    df = spark.createDataFrame(rows_in, "doc_id long, n_chars long")
    out = sampling.pps_systematic_sample(df, n_keep=10, weight_col="n_chars")
    got = {r["doc_id"]: r["selected_times"] for r in out.collect()}
    # W = 1000, step = 100; doc 99 spans 800 -> exactly 8 multiples
    assert got[99] == 8
    assert 100 not in got
    assert sum(got.values()) == 10


def test_pps_sample_fractional_weights_raise_without_scale(spark):
    # ADVICE r8: quality scores < 1 would floor to weight 0 and never
    # be sampled — the operator must refuse rather than truncate.
    df = spark.createDataFrame(
        [(1, 0.9), (2, 0.1)], "doc_id long, score double"
    )
    with pytest.raises(ValueError, match="weight_scale"):
        sampling.pps_systematic_sample(df, n_keep=1, weight_col="score")


def test_pps_sample_weight_scale_puts_scores_on_the_grid(spark):
    # with weight_scale the fractional scores land on the int grid and
    # the selection behaves like the equivalent integer weights
    df = spark.createDataFrame(
        [(i, 0.01) for i in range(1, 21)] + [(99, 0.8), (100, 0.0)],
        "doc_id long, score double",
    )
    out = sampling.pps_systematic_sample(
        df, n_keep=10, weight_col="score", weight_scale=1000
    )
    got = {r["doc_id"]: r["selected_times"] for r in out.collect()}
    assert got[99] == 8          # same spans as the integer-weight test
    assert 100 not in got        # zero weight never selected
    assert sum(got.values()) == 10


def test_ilog_engine_parity_extended_range(spark):
    """ADVICE r8: the floor(1e6*ln(n)) grid's Spark/DuckDB bit-parity
    was only measured for n in [1, 2e6], while the DSIR gram totals fed
    to _ilog grow with corpus size.  Measure the extended range as a
    committed test: EXHAUSTIVE n in [1, 4e6] plus 1e7 prime-stride
    samples up to ~1e13 (the ILOG_PARITY_MAX guard bound in
    sampling.py), compared via (count, sum, bit_xor) of the ilog
    values — a flip anywhere perturbs sum and xor."""
    import duckdb

    ilog = "CAST(floor(ln(CAST(n AS DOUBLE)) * 1000000.0) AS BIGINT)"
    got = spark.sql(
        f"""
        WITH ns AS (
          SELECT id + 1 AS n FROM range(4000000)
          UNION ALL
          SELECT 4000000 + (id + 1) * 999983 AS n FROM range(10000000)
        )
        SELECT count(*) AS c, sum(v) AS s, bit_xor(v) AS x
        FROM (SELECT {ilog} AS v FROM ns)
        """
    ).collect()[0]
    want = duckdb.sql(
        """
        WITH ns AS (
          SELECT unnest(generate_series(1, 4000000)) AS n
          UNION ALL
          SELECT 4000000 + k * 999983
          FROM (SELECT unnest(generate_series(1, 10000000)) AS k)
        )
        SELECT count(*) AS c, CAST(sum(v) AS BIGINT) AS s, bit_xor(v) AS x
        FROM (SELECT CAST(floor(ln(CAST(n AS DOUBLE)) * 1000000.0) AS BIGINT) AS v
              FROM ns)
        """
    ).fetchone()
    assert (got["c"], got["s"], got["x"]) == want
    # the guard bound must stay inside what this test measures
    assert sampling.ILOG_PARITY_MAX <= 4000000 + 10000000 * 999983


def test_dsir_importance_guard_trips_past_measured_range(spark):
    # the assert_true guard fires loudly if gram totals ever exceed the
    # parity-measured bound, instead of silently leaving the exact grid
    import pyspark.errors

    orig = sampling.ILOG_PARITY_MAX
    sampling.ILOG_PARITY_MAX = 10  # force totals past the "bound"
    try:
        pool = spark.createDataFrame(
            [(i, "a b c d e") for i in range(5)], "doc_id long, text string"
        )
        with pytest.raises(Exception, match="ilog parity"):
            sampling.dsir_importance(pool, pool.select("text")).collect()
    finally:
        sampling.ILOG_PARITY_MAX = orig


def test_quality_budget_select_matches_naive_window(spark):
    """two-phase score-ordered cumulative token sum ≡ the one-task
    SUM OVER (ORDER BY score DESC, id) form, boundary doc kept."""
    from pyspark.sql import Window

    data = [(i, (i * 37) % 50 - 10, 5 + (i * 13) % 20) for i in range(1, 101)]
    df = spark.createDataFrame(data, "doc_id long, score long, n_tokens long")
    budget = 300
    w = Window.orderBy(F.desc("score"), F.asc("doc_id")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    naive = {
        r["doc_id"]: r["cb"]
        for r in rows(
            df.withColumn("cb", F.sum("n_tokens").over(w) - F.col("n_tokens"))
        )
        if r["cb"] < budget
    }
    got = rows(sampling.quality_budget_select(df, budget, "score"))
    assert {r["doc_id"]: r["cum_tokens_before"] for r in got} == naive
    # boundary doc: the last kept doc's cum_before is < budget but its
    # own tokens cross the line for at least one budget in range
    kept_tokens = sum(r["n_tokens"] for r in got)
    assert kept_tokens >= budget  # boundary doc kept => total crosses


def test_weighted_priority_sample_is_mergeable(spark):
    """union-of-split top-k == whole-corpus top-k (the streaming
    property), and zero-weight rows never sampled."""
    data = [(i, 1 + (i * 7) % 100) for i in range(1, 201)] + [(999, 0)]
    df = spark.createDataFrame(data, "doc_id long, w long")
    whole = rows(sampling.weighted_priority_sample(df, 20, "w"), "sample_rank")
    assert len(whole) == 20 and all(r["doc_id"] != 999 for r in whole)
    # split the corpus arbitrarily, keep per-split candidates, re-rank
    a = df.filter(F.col("doc_id") % 3 == 0)
    b = df.filter(F.col("doc_id") % 3 != 0)
    cand = sampling.weighted_priority_sample(a, 20, "w").drop(
        "sample_rank"
    ).unionByName(sampling.weighted_priority_sample(b, 20, "w").drop("sample_rank"))
    merged = rows(
        sampling.weighted_priority_sample(cand, 20, "w"), "sample_rank"
    )
    assert [(r["doc_id"], r["priority"]) for r in merged] == [
        (r["doc_id"], r["priority"]) for r in whole
    ]


def test_weighted_priority_sample_weight_monotone(spark):
    """with equal hash draws impossible, check the distributional
    contract cheaply: among two rows with identical ids-hash ordering
    the heavier weight gets the smaller (better) priority."""
    df = spark.createDataFrame(
        [(1, 10), (10001, 1000)], "doc_id long, w long"
    )
    out = {r["doc_id"]: r["priority"] for r in rows(sampling.with_sample_priority(df, "w"))}
    # priority = neg_ln_u_scaled DIV w: for the SAME id (same draw) a
    # 100x weight divides the key by 100; here just sanity-check both
    # keys are positive and finite
    assert all(v is not None and v >= 0 for v in out.values())
    one = spark.createDataFrame([(7, 10), (7, 1000)], "doc_id long, w long")
    got = [r["priority"] for r in rows(sampling.with_sample_priority(one, "w"), "w")]
    assert got[0] > got[1]  # heavier weight -> smaller priority, same draw


def test_quality_budget_select_degenerate_score_distribution(spark):
    """All-equal scores collapse every row into ONE range bucket — the
    two-phase rank must still equal the naive (score DESC, id) window
    (bucket width degenerates to span 0 -> width 1)."""
    from pyspark.sql import Window

    df = spark.createDataFrame(
        [(i, 7, 10) for i in range(1, 31)], "doc_id long, score long, n_tokens long"
    )
    got = {r["doc_id"]: r["cum_tokens_before"]
           for r in rows(sampling.quality_budget_select(df, 95, "score"))}
    w = Window.orderBy(F.desc("score"), F.asc("doc_id")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    naive = {
        r["doc_id"]: r["cb"]
        for r in rows(df.withColumn("cb", F.sum("n_tokens").over(w) - F.col("n_tokens")))
        if r["cb"] < 95
    }
    assert got == naive and len(got) == 10  # 9 full + the boundary doc


def test_with_global_rank_matches_naive_window(spark):
    """Two-phase range-bucket global rank == one-task ROW_NUMBER over
    (score DESC, id), ties and degenerate all-equal scores included."""
    from pyspark.sql import Window

    data = [(i, (i * 37) % 11) for i in range(1, 101)]  # heavy ties
    df = spark.createDataFrame(data, "doc_id long, score long")
    got = {
        r["doc_id"]: r["rank"]
        for r in sampling.with_global_rank(df, "score").collect()
    }
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    naive = {
        r["doc_id"]: r["rk"]
        for r in df.withColumn("rk", F.row_number().over(w)).collect()
    }
    assert got == naive
    flat = spark.createDataFrame([(i, 7) for i in range(1, 31)], "doc_id long, score long")
    got_flat = {
        r["doc_id"]: r["rank"]
        for r in sampling.with_global_rank(flat, "score").collect()
    }
    assert got_flat == {i: i for i in range(1, 31)}


def _waterfill(spark, rows_in, budget):
    df = spark.createDataFrame(rows_in, "source string, weight long, avail_tokens long")
    return {
        r["source"]: (r["alloc_tokens"], r["saturated"])
        for r in sampling.mixture_waterfill(df, budget).collect()
    }


def test_mixture_waterfill_saturation_and_exact_total(spark):
    # A saturates at 100; B takes the remaining 500
    out = _waterfill(spark, [("A", 1, 100), ("B", 1, 1000)], 600)
    assert out == {"A": (100, True), "B": (500, False)}


def test_mixture_waterfill_no_saturation_proportional(spark):
    out = _waterfill(spark, [("A", 1, 1000), ("B", 3, 1000)], 400)
    assert out == {"A": (100, False), "B": (300, False)}


def test_mixture_waterfill_largest_remainder_sums_exactly(spark):
    out = _waterfill(spark, [("A", 1, 100), ("B", 1, 100), ("C", 1, 100)], 100)
    assert sum(a for a, _ in out.values()) == 100
    assert out == {"A": (34, False), "B": (33, False), "C": (33, False)}


def test_mixture_waterfill_budget_exceeds_availability(spark):
    out = _waterfill(spark, [("A", 5, 70), ("B", 1, 30)], 1000)
    assert out == {"A": (70, True), "B": (30, True)}


def test_mixture_waterfill_epoch_cap(spark):
    """VERDICT r9 ask #6: with epochs_col a small high-quality source
    saturates at avail*max_epochs — ABOVE its availability — and the
    exact-total invariant holds over the caps."""
    df = spark.createDataFrame(
        [("A", 1, 100, 5), ("B", 1, 1000, 1)],
        "source string, weight long, avail_tokens long, max_epochs long",
    )
    out = {
        r["source"]: r
        for r in sampling.mixture_waterfill(df, 1200, epochs_col="max_epochs").collect()
    }
    a, b = out["A"], out["B"]
    # A saturates at its epoch cap (500 = 100 * 5), not its avail (100)
    assert (a["cap_tokens"], a["alloc_tokens"], a["saturated"]) == (500, 500, True)
    assert a["epochs_milli"] == 5000  # 5.0 epochs on the fixed-point grid
    assert (b["alloc_tokens"], b["saturated"], b["epochs_milli"]) == (700, False, 700)
    assert a["alloc_tokens"] + b["alloc_tokens"] == 1200
    # budget above total cap: every source saturates at its cap
    full = {
        r["source"]: r["alloc_tokens"]
        for r in sampling.mixture_waterfill(df, 10_000, epochs_col="max_epochs").collect()
    }
    assert full == {"A": 500, "B": 1000}
    # epochs must be >= 1 when the column is given
    bad = spark.createDataFrame(
        [("A", 1, 100, 0)],
        "source string, weight long, avail_tokens long, max_epochs long",
    )
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    with pytest.raises((PySparkException, Py4JJavaError)):
        sampling.mixture_waterfill(bad, 50, epochs_col="max_epochs").collect()


def test_mixture_waterfill_rejects_nonpositive_weight(spark):
    """ADVICE r9: a zero weight must fail with the NAMED invariant
    (in-plan assert_true), never an opaque DIVIDE_BY_ZERO or a silent
    saturated-allocation of the inf-ratio row."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    df = spark.createDataFrame(
        [("A", 0, 100), ("B", 1, 100)], "source string, weight long, avail_tokens long"
    )
    with pytest.raises((PySparkException, Py4JJavaError)) as ei:
        sampling.mixture_waterfill(df, 50).collect()
    assert "mixture_waterfill: every source needs weight > 0" in str(ei.value)


def test_with_sample_priority_fractional_weights_guard(spark):
    """ADVICE r9: fractional weight columns must raise without a
    weight_scale (CAST AS BIGINT would floor 0.9 -> 0, never sampled)
    and land on the floor(w*scale) grid with one."""
    df = spark.createDataFrame([(1, 0.9), (2, 0.1)], "doc_id long, score double")
    with pytest.raises(ValueError, match="weight_scale"):
        sampling.with_sample_priority(df, "score")
    with pytest.raises(ValueError, match="weight_scale"):
        sampling.weighted_priority_sample(df, 1, "score")
    # scaled: identical priorities to the equivalent integer weights
    scaled = {
        r["doc_id"]: r["priority"]
        for r in rows(sampling.with_sample_priority(df, "score", weight_scale=10))
    }
    ints = spark.createDataFrame([(1, 9), (2, 1)], "doc_id long, w long")
    want = {
        r["doc_id"]: r["priority"]
        for r in rows(sampling.with_sample_priority(ints, "w"))
    }
    assert scaled == want


def test_token_budget_cap_per_stratum_budgets(spark):
    docs = spark.createDataFrame(
        [(i, "A" if i <= 10 else "B", "w " * 9 + "w") for i in range(1, 21)],
        "doc_id long, source string, text string",
    )  # 10 tokens per doc, 10 docs per source
    budgets = spark.createDataFrame(
        [("A", 35)], "source string, alloc_tokens long"
    )  # B absent -> keeps nothing
    out = sampling.token_budget_cap(docs, 0, budgets=budgets).collect()
    srcs = {r["source"] for r in out}
    assert srcs == {"A"}
    assert len(out) == 4  # 3 full docs + the boundary doc crossing 35
    # equivalence with the constant form when every stratum gets it
    both = spark.createDataFrame(
        [("A", 35), ("B", 35)], "source string, alloc_tokens long"
    )
    a = sorted(r["doc_id"] for r in sampling.token_budget_cap(docs, 0, budgets=both).collect())
    b = sorted(r["doc_id"] for r in sampling.token_budget_cap(docs, 35).collect())
    assert a == b
