"""Physical-plan assertions — the 100 TB properties SCALE.md claims,
machine-checked so a refactor can't silently regress them.

These never execute the queries (plan-only), so the whole sweep is
cheap; streaming replays and the temp-file scan are excluded because
building their DataFrame runs a stream."""

import pytest

from firewatch_spark.queries import registry
from tests.conftest import exchange_inputs

SF = "/root/testdata/sf0.001"
SKIP = {
    "streaming_session_parity",
    "streaming_ep2_parity",
    "streaming_incremental_dedup",
    "streaming_ann_serve",
    "streaming_sketch_merge",
    "streaming_weighted_sample",  # foreachBatch replay runs in-build
    "streaming_warc_ingest",  # dump write + foreachBatch run in-build
    "streaming_recrawl_schedule",  # delivery writes + foreachBatch in-build
    "streaming_blocklist_filter",  # frontier write + foreachBatch in-build
    "video_scan",
    "jsonl_ingest",  # building its DataFrame writes the JSONL fixture
    "csv_ingest",  # same: builds by writing the CSV fixture
    "warc_ingest",  # same: builds by writing the WARC-shaped dump
    "crawl_pipeline",  # same dump write in-build
    "web_corpus_pipeline",  # same dump write in-build
    "curation_pipeline",  # materializes the scored corpus in-build
    "ann_ivf_upsert",  # builds by writing the stored base index; its
    # join shape is ivf_assign's, already swept via ann_ivf_cells
}


def _plan(spark, name: str) -> str:
    df = registry()[name].fn(spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def plans(spark):
    """The executed plan string of every non-SKIP query.  Building them
    leaks no session conf: the conf after the sweep equals the conf
    before it."""
    before = spark.conf.getAll
    out = {name: _plan(spark, name) for name in registry() if name not in SKIP}
    assert spark.conf.getAll == before
    return out


def test_forced_broadcasts_have_bounded_build_sides():
    """VERDICT r9 #1 (the frontier_schedule lesson): a forced
    ``F.broadcast(x)`` hint asserts x fits on every executor AND the
    driver — valid only when x's cardinality is bounded by a
    CONSTANT or a driver-scale contract, never by a corpus-derived
    key (hosts, docs, urls…).  frontier_schedule broadcast its
    per-(host, bucket) offsets table — fine at sf0.1, an OOM at a
    10⁸-host web frontier.  This sweep forces every broadcast call
    site in the package through this audit: a new ``F.broadcast(``
    whose (file, argument) pair is not in the audited allowlist
    fails here until its bound is reviewed and documented below."""
    import re
    from pathlib import Path

    # (file, first-identifier-of-argument) -> documented bound
    allowed = {
        # 1-row totals / stats / counts (crossJoin'd scalars)
        ("sampling.py", "target"): "1-row total-count agg",
        ("sampling.py", "tc.agg"): "1-row gram-total agg",
        ("sampling.py", "tot"): "1-row totals agg",
        ("sampling.py", "total"): "1-row total-weight agg",
        ("sampling.py", "stats"): "1-row (max, min[, n]) stats agg",
        ("sampling.py", "sat_tot"): "1-row saturated-totals agg",
        ("sampling.py", "shares"): "1-row share-sum agg",
        ("web.py", "n_hosts"): "1-row host-count agg (pagerank teleport)",
        ("text.py", "n_docs"): "1-row corpus doc count (idf)",
        ("text.py", "total"): "1-row corpus token total",
        ("text.py", "corpus"): "1-row corpus (n_docs, total_tokens) agg",
        ("text.py", "queries"): "constant query-term literal (bm25)",
        # <= 256/257-row GLOBAL hash/range bucket offset tables (the
        # corpus_shuffle two-phase convention: bucket count is a
        # CONSTANT, unlike frontier_schedule's per-host offsets)
        ("sampling.py", "offsets"): "<= 257 global bucket offsets",
        # per-stratum / per-source driver-scale contract tables
        ("sampling.py", "rates"): "one row per stratum (contract)",
        ("sampling.py", "budgets.select"): "one row per source (contract)",
        ("sampling.py", "lr"): "<= DSIR_BUCKETS (10^4) log-ratio rows",
        # fixed-size vocabularies / sketches / top-k collects
        ("text.py", "bench_grams"): "fixed benchmark gram list",
        ("text.py", "top"): "top-k argmax rows (k constant)",
        ("text.py", "cms"): "d x w CMS sketch cells (constants)",
        # ANN: query SAMPLE / centroids / codebooks / shortlists —
        # all bounded by k, probes, or the sampled query count
        ("similarity.py", "q"): "sampled query vectors (constant n)",
        ("similarity.py", "qiv"): "sampled query vectors (constant n)",
        ("similarity.py", "cents"): "k centroids",
        ("similarity.py", "centroids"): "k centroids",
        ("similarity.py", "cb"): "k_sub x 256 PQ codebook rows",
        ("similarity.py", "q_probe"): "queries x n_probe cells",
        ("similarity.py", "q_probe.select"): "queries x n_probe cells",
        ("similarity.py", "lut"): "queries x probes x subspaces x 256",
        ("similarity.py", "shortlist"): "queries x shortlist_k rows",
        ("dedup.py", "bloom_bits.filter"): "<= m_bits bloom positions",
        ("dedup.py", "grid"): "constant 8-row (bands, rows) divisor grid",
        ("web.py", "bits.filter"): "<= k*m_bits url-bloom set bits (constants)",
        ("queries.py", "qiv"): "sampled query vectors (constant n)",
        ("queries.py", "qmap"): "constant 3-row query-id -> query-vec map (rrf)",
        ("queries.py", "grid"): "constant 17-row threshold grid (sweep)",
        ("queries.py", "off"): "1-row max(doc_id)+1 offset agg (funnel republication)",
        ("queries.py", "total"): "1-row corpus doc count (tier boundaries)",
        ("queries.py", "_tbl"): "TPC-H dimension tables (customer/nation/region)",
    }
    pkg = Path(__file__).resolve().parent.parent / "firewatch_spark"
    pat = re.compile(r"F\.broadcast\(\s*([A-Za-z_][A-Za-z0-9_.]*)")
    unaudited = []
    for py in sorted(pkg.rglob("*.py")):
        for tok in pat.findall(py.read_text()):
            # normalize a dotted chain to at most two segments
            tok = ".".join(tok.split(".")[:2])
            if (py.name, tok) not in allowed:
                unaudited.append((py.name, tok))
    assert not unaudited, (
        "forced broadcast sites whose build-side bound is not audited "
        f"(add to the allowlist ONLY with a documented constant or "
        f"driver-scale bound — never a corpus-derived key): {sorted(set(unaudited))}"
    )


def test_no_cartesian_product_anywhere(plans):
    """No registry query may plan a cartesian/nested-loop product —
    the property that keeps every dedup/similarity/join operator
    sub-quadratic at scale."""
    # deliberate exceptions, all bounded: ann_topk broadcasts the tiny
    # query SAMPLE against one corpus scan (corpus × O(queries)),
    # ngram_jaccard is the sampled verify stage (1/25 sample × its own
    # sample; the scale path feeds it LSH candidates instead), and
    # ann_ivf_cells/ann_ivf_topk are corpus × k centroids (IVF index
    # build + probe ranking)
    # tfidf_topk broadcasts the ONE-row corpus doc count (N in the idf)
    # against the vocabulary, lang_rebalance the ONE-row min group count
    # against the group-count table — 1 × small products, not quadratic
    # unigram_score broadcasts the ONE-row corpus token total,
    # cluster_balanced_sample is corpus × k centroids (IVF assign) plus
    # the ONE-row min cell count — all 1 × small or k × corpus products
    allowed_bnlj = {
        "ann_topk",
        # same corpus × broadcast-query-sample scan as ann_topk, on the
        # int8-quantized vectors
        "ann_sq8_topk",
        # both audit sides are the same broadcast corpus scan
        "ann_sq8_recall",
        # ann_topk's scan with the label inequality fused into the
        # broadcast join condition
        "hard_negative_mining",
        "ngram_jaccard",
        "ann_ivf_cells",
        "ann_ivf_topk",
        # corpus × k TRAINED centroids — same bounded broadcast product
        # as ann_ivf_topk (the centroid table itself is checkpointed)
        "ann_ivf_trained_topk",
        # ivf_train/ivf_assign's corpus × k centroid products (the
        # ann_ivf_trained_topk shapes); the pair stage is an equi-join
        # on centroid_id and the savings agg is queries-scale
        "semantic_dedup_pipeline",
        # same composition with k derived from count(*) — same bounded
        # corpus × k products (r14, VERDICT r13 #7)
        "semantic_dedup_kscaled",
        # corpus × k coarse centroids (residuals) and queries × k
        # (probe ranking) — the same bounded IVF broadcast products;
        # the PQ stages themselves are equi-joins on s / centroid_id
        "ann_ivf_pq_topk",
        # wraps ann_ivf_pq_topk's build; the refine stage itself is an
        # equi-join on neighbor_id/query_id (asserted separately below)
        "ann_ivf_pq_refine",
        # the recall audit's EXACT side is ann_topk's corpus ×
        # broadcast-query-sample scan (the one-off audit cost; the
        # approx side is the IVF equi-join)
        "ann_recall",
        # both PQ builds + the same exact audit side as ann_recall
        "ann_pq_recall",
        "tfidf_topk",
        # 1-row corpus (n_docs, total_tokens) broadcast into the
        # query-term postings — tfidf_topk's shape with BM25 scoring
        "bm25_topk",
        # 1-row max(doc_id)+1 offset broadcast into the republication
        # branch (ADVICE r11: collision-free duplicate ids at any SF)
        "curation_funnel",
        # composes bm25_topk's 1-row corpus broadcast and ann_topk's
        # corpus x broadcast-query-sample scan; the fusion stage itself
        # is a groupBy over queries x k rows
        "hybrid_retrieval_rrf",
        # sources × sources pair assembly (< join) — one row per
        # source, the mixture-table driver-scale contract; every
        # downstream table is (sources² × k)-bounded
        "corpus_overlap_minhash",
        # ngram_jaccard's sampled all-pairs (the audited verify-stage
        # exception) + the ≤ n_bins × 8-row constant divisor grid
        "lsh_band_plan",
        "lang_rebalance",
        # 1-row min-count broadcast, same shape as lang_rebalance
        "temperature_rebalance",
        "unigram_score",
        "cluster_balanced_sample",
        # 1-row broadcasts only: the (S, T) gram-total pair into the
        # ≤10⁴-row log-ratio table, and the (max, min, n) stats row
        # into the rank keying — never a corpus × corpus product
        "dsir_importance_sample",
        # 1-row total-weight broadcast into the span test
        "pps_sample",
        # round-9 1-row broadcasts: the (max, min) score-stats row into
        # quality_budget_select's range bucketing (the
        # dsir_importance_sample keying shape), the DSIR (S, T)
        # gram-total pair it composes, and interpolated_lm_score's
        # 1-row total-token broadcast into the unigram term
        "quality_budget_select",
        "interpolated_lm_score",
        # composes both of the above (same 1-row broadcasts)
        "curation_pipeline",
        # mixture_waterfill's 1-row broadcasts (totals, saturated
        # totals, share sum) into the SOURCES-sized table — every
        # product is 1 x n_sources
        "mixture_allocate",
        "mixture_budget_apply",
        # identical waterfill 1-row broadcasts over the epoch caps
        "mixture_epoch_allocate",
        # JM scorer's 1-row token-total broadcast + with_global_rank's
        # 1-row (max, min) stats + the 1-row tier-boundary doc count +
        # the waterfill 1-row broadcasts over the 3-row tier table
        "quality_tier_mixture",
        # same JM + with_global_rank + tier-boundary 1-row broadcasts
        # (no waterfill leg)
        "quality_filter_ensemble",
        # corpus × the constant 17-row threshold grid broadcast
        "quality_threshold_sweep",
        # frontier_schedule composes web.pagerank → the 1-row n_hosts
        # teleport broadcast, same as host_pagerank (build-timed, not
        # plan-swept, but the frontier side shares the plan here)
        "frontier_schedule",
        # round-10: pagerank's 1-row teleport broadcast + the
        # waterfill 1-row broadcasts over the hosts-count table
        "crawl_budget_allocate",
        "crawl_budget_apply",
    }
    for name, plan in plans.items():
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan or name in allowed_bnlj, name


def test_scans_are_column_pruned(plans):
    """Queries over events must not read the whole row — ReadSchema
    carries only the needed columns (events has 6: event_id, ts,
    user_id, event_type, value, props)."""
    for name in ("session_ids", "surrogate_predictions", "completion_stats"):
        scans = [l for l in plans[name].split("\n") if "FileScan parquet [" in l]
        assert scans, name
        cols = scans[0].split("FileScan parquet [", 1)[1].split("]", 1)[0]
        read = {c.split("#")[0] for c in cols.split(",")}
        assert "ts" not in read and "props" not in read, (name, read)


def test_window_chains_share_one_exchange(plans):
    """Sessionization and cadence stack several window functions on the
    same key — they must reuse ONE shuffle, not re-exchange per window."""
    for name in ("session_ids", "inference_cadence", "progress_pct"):
        n_exchanges = plans[name].count("Exchange hashpartitioning")
        assert n_exchanges == 1, (name, n_exchanges)


def test_star_join_broadcasts_dimensions(plans):
    """revenue_by_nation must broadcast all three dimension tables —
    the fact table never shuffles for the joins."""
    plan = plans["revenue_by_nation"]
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan


def test_span_dedup_has_no_window_over_span_hash(plans):
    """The first-occurrence rule must be a map-side-combinable
    aggregation, not a window over md5(span): a boilerplate mega-span
    would funnel through one window-sort task (the skew shape the
    third-review fix removed)."""
    assert "Window" not in plans["span_dedup"]


def test_normalized_dedup_has_no_window_over_norm_hash(plans):
    """First-occurrence-per-normalized-md5 must be the groupBy+join
    shape — a window over the hot hash would funnel a boilerplate
    mega-group through one task (the span_dedup rule)."""
    assert "Window" not in plans["normalized_dedup"]


def test_dup_ngram_coverage_has_no_window_over_gram_hash(plans):
    """Duplication counting must be a map-side-combinable groupBy over
    the gram md5 plus a semi-join back — never a window partitioned by
    the gram hash, which would funnel every occurrence of a hot
    boilerplate gram through ONE window-sort task (ADVICE r5; the
    per-doc islands windows are fine, they key on doc_id)."""
    for line in plans["dup_ngram_coverage"].split("\n"):
        if "windowspecdefinition" in line:
            assert "_h#" not in line, line


def test_gopher_rules_is_shuffle_free(plans):
    """The hard rule filter is pure per-doc Column algebra — no
    KEYED exchange at all: at 100 TB it runs entirely map-side in the
    scan stage, one pass over the corpus.  The only Exchange allowed
    is ensure_parallelism's RoundRobin scan fan-out (a documented
    no-op at real scale — SCALE.md 'Known local-mode divergences')."""
    for line in plans["gopher_rules"].split("\n"):
        if "Exchange" in line:
            assert "RoundRobinPartitioning" in line, line


def test_pq_refine_never_sort_merge_joins(plans):
    """The refine stage fetches shortlisted vectors via BROADCAST
    joins (shortlist and query sides are tiny by construction); a
    SortMergeJoin would mean the corpus vector table is being
    shuffled on the join key — the exact shape the two-stage design
    exists to avoid."""
    for name in ("ann_ivf_pq_topk", "ann_ivf_pq_refine"):
        assert "SortMergeJoin" not in plans[name], name


def test_hinted_join_uses_shuffle_hash(plans):
    """The SHUFFLE_HASH hint must actually take effect — hinted_join's
    physical plan builds a hash join without a sort phase."""
    plan = plans["hinted_join"]
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_filters_are_pushed_to_scan(plans):
    """pricing_summary's date filter must reach the parquet reader."""
    scan = [l for l in plans["pricing_summary"].split("\n") if "PushedFilters" in l]
    assert scan and "LessThanOrEqual(l_shipdate" in scan[0]


def test_ann_topk_reduces_exchange_with_partial_topk(plans):
    """Brute-force cosine top-k must rank within (query_id, salt)
    BEFORE the per-query window shuffle, so the final exchange carries
    at most salts × queries × k survivor rows, not every scored
    corpus row — and the whole reduction stays JVM-side (no Python
    stage: the round-5 Arrow fold's worker cold-start was the ann_topk
    bench regression)."""
    for name in ("ann_topk", "ann_sq8_topk"):
        plan = plans[name]
        lines = plan.split("\n")
        ex_final = [
            i
            for i, l in enumerate(lines)
            if "Exchange hashpartitioning(query_id" in l and "_salt" not in l
        ]
        ex_salted = [
            i
            for i, l in enumerate(lines)
            if "Exchange hashpartitioning(query_id" in l and "_salt" in l
        ]
        assert ex_final and ex_salted, (
            f"{name}: expected salted + final query_id exchanges"
        )
        # the tree prints top-down: the salted phase sits BELOW (after)
        # the final exchange line, i.e. it executes before that shuffle
        assert min(ex_salted) > min(ex_final)
        assert "MapInPandas" not in plan, (
            f"{name}: top-k reduction must stay JVM-side"
        )


def test_media_payload_never_enters_exchange(spark, tmp_path):
    """EP2 prunes frame bytes before the session shuffle: what the one
    Exchange of `fire_detection_query` receives is the decoded frame
    metadata, without the base64 payload or the raw Kafka value.  The
    query is planned, never started (a streaming plan is only reachable
    as explain text)."""
    from firewatch_spark.streaming.pipeline import fire_detection_query

    src = spark.readStream.schema("key binary, value binary").parquet(str(tmp_path))
    writer, _ = fire_detection_query(
        src, str(tmp_path / "media"), lambda records, topic: None, timeout_ms=None
    )
    plan = spark._jvm.PythonSQLUtils.explainString(writer._df._jdf.queryExecution(), "simple")
    lines = plan.split("\n")
    (ex_idx,) = [i for i, l in enumerate(lines) if "Exchange hashpartitioning" in l]
    fed = lines[ex_idx + 1]
    assert "Project [" in fed and "video_id" in fed and "frame_number" in fed, fed
    assert "frame_data" not in fed and "value#" not in fed and "key#" not in fed, fed


def test_image_phash_payload_never_enters_exchange(spark):
    """The image dedup discipline at 100 TB: fingerprints are computed
    scan-side and only (id, 64-char phash) rows shuffle — the binary
    payload column must not be among any Exchange's INPUT attributes
    (checked on the plan tree, not the plan text: the Project feeding
    the first shuffle legitimately references payload in its
    expressions while outputting only the fingerprint)."""
    from firewatch_spark.operators import dedup

    media = spark.createDataFrame(
        [(i, bytes([i]) * 64) for i in range(8)], "media_id long, payload binary"
    )
    jplan = dedup.image_phash_pairs(media)._jdf.queryExecution().executedPlan()
    carried = [a.name() for a in exchange_inputs(jplan)]
    assert carried, "expected at least one Exchange in the pair plan"
    assert "payload" not in carried, carried
