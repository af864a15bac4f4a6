"""Text-analysis operators — language-ID, quality scoring, token
counting, document fingerprinting.

Parity-plus pack for training-data pipelines (SURVEY.md §7 north star).
All pure Column algebra — JVM-side, whole-stage codegen, no UDFs, no
shuffle — so a 100 TB corpus scan is embarrassingly parallel and the
only cost is the parquet read itself.

Everything is deterministic and replayable in ANSI SQL (DuckDB oracle):
token counts via split, fingerprints via md5, language scores via
portable list folds.
"""

from __future__ import annotations

import re as _re

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import word_shingles
from .util import ensure_parallelism, materialize

# Tiny per-language profile word lists.  Real systems use char-n-gram
# models; the *operator shape* (profile scoring + argmax) is identical.
# The testdata vocabulary is synthetic English-ish SQL words, so the
# profiles are drawn from that vocabulary to produce varied scores.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "fast", "slow", "big", "small"),
    "es": ("data", "table", "row", "column"),
    "de": ("stream", "batch", "window", "merge"),
    "fr": ("query", "filter", "join", "group"),
}

STOPWORDS: tuple[str, ...] = ("the", "a", "of", "and", "to", "in")


def _in_list(vals: tuple[str, ...]) -> str:
    return "(" + ", ".join(f"'{v}'" for v in vals) + ")"


def with_token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting + quality ratios.

    n_tokens: whitespace tokens; n_chars: bytes; avg_token_len and
    stopword_ratio are exact-integer divisions (portable doubles).
    quality_score is a simple deterministic composite in [0, 1]:
    length-band score x (1 - stopword excess).
    """
    df = df.withColumn("_toks", F.split(F.col(text_col), " "))
    n_tokens = F.size("_toks").cast("long")
    n_chars = F.length(F.col(text_col)).cast("long")
    stop_cnt = F.expr(f"size(filter(_toks, t -> t IN {_in_list(STOPWORDS)}))").cast("long")
    df = (
        df.withColumn("n_tokens", n_tokens)
        .withColumn("n_chars", n_chars)
        .withColumn("n_stopwords", stop_cnt)
        .withColumn(
            "avg_token_len",
            (F.col("n_chars") - (F.col("n_tokens") - 1)) / F.col("n_tokens").cast("double"),
        )
        .withColumn("stopword_ratio", F.col("n_stopwords") / F.col("n_tokens").cast("double"))
        .withColumn(
            "quality_score",
            F.least(F.col("n_tokens").cast("double") / F.lit(50.0), F.lit(1.0))
            * (F.lit(1.0) - F.col("stopword_ratio")),
        )
    )
    return df.drop("_toks")


def with_lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID: per-profile token-hit counts, argmax with
    a fixed tie-break order (profile declaration order)."""
    df = df.withColumn("_toks", F.split(F.col(text_col), " "))
    for lang, words in LANG_PROFILES.items():
        df = df.withColumn(
            f"score_{lang}",
            F.expr(f"size(filter(_toks, t -> t IN {_in_list(words)}))").cast("long"),
        )
    # argmax with declaration-order tie-break: a CASE chain comparing
    # each score against the running max of the later ones.
    langs = list(LANG_PROFILES)
    pred = F.lit(langs[-1])
    for lang in reversed(langs[:-1]):
        later = [f"score_{l2}" for l2 in langs[langs.index(lang) + 1 :]]
        cond = F.col(f"score_{lang}") >= F.greatest(*[F.col(c) for c in later]) if len(later) > 1 else (
            F.col(f"score_{lang}") >= F.col(later[0])
        )
        pred = F.when(cond, F.lit(lang)).otherwise(pred)
    return df.withColumn("predicted_lang", pred).drop("_toks")


def with_fingerprint(df: DataFrame, text_col: str = "text", shingle_n: int = 4) -> DataFrame:
    """Document fingerprinting: full-content md5 plus a winnowing-style
    shingle fingerprint (minimum md5 over word n-gram shingles — a
    1-function MinHash, stable under small edits away from the minimal
    shingle)."""
    df = df.withColumn("_toks", F.split(F.col(text_col), " "))
    df = df.withColumn("_sh", word_shingles("_toks", shingle_n))
    return (
        df.withColumn("content_md5", F.md5(F.col(text_col).cast("binary")))
        .withColumn("shingle_fp", F.array_min(F.expr("transform(_sh, s -> md5(s))")))
        .drop("_toks", "_sh")
    )


# GPT-2-ish pre-tokenizer approximation, restricted to constructs that
# behave identically under Java regex (Spark) and RE2 (DuckDB): runs of
# letters, single digits (BPE splits digit runs), and single
# non-alphanumeric non-space marks.
def with_repetition_stats(
    df: DataFrame, text_col: str = "text", ngram_n: int = 2
) -> DataFrame:
    """Gopher/C4-style within-document repetition signals — the
    filters large-scale text cleaning actually gates on (beyond the
    cross-document dedup family):

    * ``dup_token_frac`` — fraction of tokens that are repeats of an
      earlier token (1 − distinct/total);
    * ``top_ngram_frac`` — fraction of all n-grams claimed by the
      single most frequent n-gram (boilerplate/spam marker);
    * ``max_run_len`` — longest run of the SAME token repeated
      consecutively (keyword-stuffing marker).

    Pure Column algebra (aggregate/transform folds — no UDF, no
    shuffle), same 100 TB posture as the rest of this module.  The
    top-ngram fold is the most expensive per-row expression in the
    text pack (O(distinct × total) per doc), so the scan is fanned out
    first (`ensure_parallelism` — a no-op at real scale).

    The token and gram arrays are LET-BOUND (nested
    transform-over-1-element-array binders), so `split` and the gram
    construction evaluate exactly once per row — leaving them as
    projected columns invites Catalyst to substitute the defining
    expressions into every fold reference (measured 1.44 s vs 0.56 s
    at sf0.1; the substitution-duplication family SCALE.md records)."""
    df = ensure_parallelism(df)
    n = ngram_n
    gram_parts = ", ".join(f"element_at(TK, i + {k})" for k in range(n))
    stats_struct = (
        f"transform(array(split({text_col}, ' ')), TK -> "
        f"transform(array(CASE WHEN size(TK) >= {n} "
        f"THEN transform(sequence(1, size(TK) - {n - 1}), "
        f"i -> concat_ws(' ', {gram_parts})) "
        f"ELSE array(concat_ws(' ', TK)) END), GR -> named_struct("
        # dup_token_frac: 1 - distinct/total
        "'dup', 1.0d - size(array_distinct(TK)) / cast(size(TK) as double), "
        # top_ngram_frac: most-frequent-gram count over a fold —
        # O(distinct × total) per doc, bounded by doc length
        "'top', aggregate(transform(array_distinct(GR), "
        "gm -> size(filter(GR, x -> x = gm))), 0, (m, c) -> greatest(m, c)) "
        "/ cast(size(GR) as double), "
        # max_run_len: longest consecutive-equal-token run via a
        # (prev, run, best) fold
        "'run', aggregate(slice(TK, 2, size(TK)), "
        "named_struct('prev', element_at(TK, 1), 'run', 1, 'best', 1), "
        "(s, tk2) -> named_struct('prev', tk2, "
        "'run', CASE WHEN tk2 = s.prev THEN s.run + 1 ELSE 1 END, "
        "'best', greatest(s.best, "
        "CASE WHEN tk2 = s.prev THEN s.run + 1 ELSE 1 END)), "
        "s -> s.best)))[0])[0]"
    )
    return df.withColumn("__Z__", F.expr(stats_struct)).select(
        *df.columns,
        F.col("__Z__.dup").alias("dup_token_frac"),
        F.col("__Z__.top").alias("top_ngram_frac"),
        F.col("__Z__.run").cast("long").alias("max_run_len"),
    )


def chunk_documents(
    df: DataFrame,
    max_tokens: int,
    overlap: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Token-budget document chunking — the step that turns cleaned
    documents into trainable ≤ `max_tokens` pieces, with optional
    token `overlap` between consecutive chunks.

    Plan: per-row ``sequence`` of chunk starts → ``posexplode`` →
    ``slice`` of the token array — one narrow stage, no UDF, no
    shuffle; output rows carry (doc_id, chunk_idx, n_tokens, chunk).
    A 100 TB corpus chunks in a single embarrassingly-parallel scan."""
    if overlap >= max_tokens:
        raise ValueError("overlap must be smaller than max_tokens")
    step = max_tokens - overlap
    toks = F.split(F.col(text_col), " ")
    starts = F.expr(
        f"sequence(1, greatest(size(__T__), 1), {step})"
    )
    out = (
        df.withColumn("__T__", toks)
        .withColumn("_starts", starts)
        .select(
            *[c for c in df.columns if c != text_col],
            F.posexplode("_starts").alias("chunk_idx", "_start"),
            F.col("__T__"),
        )
        .withColumn("_piece", F.slice(F.col("__T__"), F.col("_start"), max_tokens))
        # a trailing start that only re-covers overlap tokens adds no
        # new content — drop chunks fully contained in the previous one
        .filter((F.col("chunk_idx") == 0) | (F.size("_piece") > overlap))
        .select(
            id_col,
            "chunk_idx",
            F.size("_piece").cast("long").alias("n_tokens"),
            F.concat_ws(" ", "_piece").alias("chunk"),
        )
    )
    return out


def pack_chunks_per_doc(
    chunks: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    idx_col: str = "chunk_idx",
    n_col: str = "n_tokens",
) -> DataFrame:
    """Greedy sequential packing of a document's chunks into
    ≤ `budget`-token training samples: walk chunks in order, start a
    new pack when adding the next chunk would overflow.  (Exact greedy
    needs a running-sum-with-reset, which plain window cumsum cannot
    express — so the chunk sizes of ONE doc are folded in an array
    aggregate and exploded back.  The array is bounded by
    doc_len/chunk_size: tiny.  Cross-document packing is
    :func:`pack_chunks_cross_doc`.)

    Output: one row per chunk with its ``pack_id`` (0-based per doc);
    grouping by (doc, pack_id) yields the training samples."""
    w_sorted = F.array_sort(
        F.collect_list(F.struct(F.col(idx_col).alias("i"), F.col(n_col).alias("n")))
    )
    fold = F.expr(
        f"""aggregate(
              _chunks,
              named_struct('acc', CAST(0 AS BIGINT), 'pid', CAST(0 AS BIGINT),
                           'out', CAST(array() AS ARRAY<BIGINT>)),
              (s, c) -> CASE
                WHEN s.acc + c.n > {budget} AND s.acc > 0 THEN named_struct(
                  'acc', c.n, 'pid', s.pid + 1, 'out', concat(s.out, array(s.pid + 1)))
                ELSE named_struct(
                  'acc', s.acc + c.n, 'pid', s.pid, 'out', concat(s.out, array(s.pid)))
              END,
              s -> s.out)"""
    )
    per_doc = (
        chunks.groupBy(id_col)
        .agg(w_sorted.alias("_chunks"))
        .withColumn("_packs", fold)
    )
    return per_doc.select(
        id_col,
        F.expr(
            "explode(zip_with(_chunks, _packs, (c, p) -> named_struct("
            "'chunk_idx', c.i, 'n_tokens', c.n, 'pack_id', p)))"
        ).alias("z"),
    ).select(id_col, "z.chunk_idx", "z.n_tokens", "z.pack_id")


def pack_chunks_cross_doc(
    chunks: DataFrame,
    budget: int,
    num_buckets: int | None = None,
    id_col: str = "doc_id",
    idx_col: str = "chunk_idx",
    n_col: str = "n_tokens",
) -> DataFrame:
    """Greedy packing ACROSS documents — small documents share a
    training sample instead of each wasting a mostly-empty pack (the
    cross-doc problem :func:`pack_chunks_per_doc` deliberately leaves
    out).

    Exact global greedy is inherently sequential, so the scalable form
    buckets documents with an md5-uniform hash of the doc id (the SAME
    portable hash recipe as `sampling.split_by_hash`, so a DuckDB
    oracle can replay the assignment), and runs the per-doc
    running-sum-with-reset walk over each bucket's chunks in
    (doc, idx) order.  ``pack_id = bucket * 2**40 + per-bucket
    counter`` — globally unique with zero coordination.

    Scale shape: one shuffle on the bucket, then each bucket walks
    sequentially inside a mapInPandas task with O(buckets-per-task)
    state — Arrow-batched, never a driver loop.  Cost of bucketing vs
    true global greedy: at most one under-filled pack per bucket.  The
    output is DETERMINISTIC for a fixed `num_buckets`, whatever the
    physical partitioning — the walk keys on the bucket value, not on
    spark_partition_id."""
    from pyspark.sql.types import LongType, StructField, StructType

    spark_parallelism = chunks.sparkSession.sparkContext.defaultParallelism
    n_buckets = num_buckets or max(2, spark_parallelism)
    bkt = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|", F.lit("pack"), F.col(id_col).cast("string")
                    ).cast("binary")
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % n_buckets
    )
    sel = chunks.select(id_col, idx_col, n_col).withColumn("_bkt", bkt)
    arranged = sel.repartition(n_buckets, "_bkt").sortWithinPartitions(
        "_bkt", id_col, idx_col
    )
    out_schema = StructType(
        [f for f in sel.schema.fields if f.name != "_bkt"]
        + [StructField("pack_id", LongType())]
    )

    def walk(batches):
        # running (acc, pack-counter) per bucket — rows arrive sorted
        # by (_bkt, doc, idx), so each bucket's walk is the exact
        # sequential greedy; state survives Arrow batch boundaries
        state: dict[int, tuple[int, int]] = {}
        for pdf in batches:
            pack_ids = []
            for b, n in zip(pdf["_bkt"], pdf[n_col]):
                b, n = int(b), int(n)
                acc, cnt = state.get(b, (0, 0))
                if acc > 0 and acc + n > budget:
                    cnt, acc = cnt + 1, 0
                acc += n
                state[b] = (acc, cnt)
                pack_ids.append((b << 40) + cnt)
            out = pdf[[id_col, idx_col, n_col]].copy()
            out["pack_id"] = pack_ids
            yield out

    return arranged.mapInPandas(walk, schema=out_schema)


def flag_contaminated(
    corpus: DataFrame,
    bench: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination — flag corpus docs sharing any n-word
    shingle with the benchmark/eval set (the standard train/test
    overlap check run before training).

    Scale shape: the benchmark gram set is SMALL by construction (eval
    suites are thousands of docs) — distinct md5 gram keys built once
    and broadcast to an equi-join against the corpus's exploded grams;
    the corpus side is one scan + explode, the join key a 32-char
    hash, no shuffle of document text.  Docs shorter than n words are
    out of scope on both sides (they cannot n-gram-collide).

    Output: one row per corpus doc ≥ n words —
    (id, n_matched_grams, contaminated int)."""
    # Two measured traps shape this expression (both the
    # substitution-duplication family SCALE.md documents):
    # * the size guard lives INSIDE the expression, not only in a
    #   filter — ANSI sequence(1, size-n+1) goes DESCENDING for short
    #   docs and the slice/hash path would still be evaluated for rows
    #   a separate filter was meant to exclude;
    # * the token array is LET-BOUND via transform-over-a-1-element-
    #   array, so split(text) evaluates exactly once per row.  Leaving
    #   it as a projected column invites Catalyst to substitute the
    #   split into every lambda reference — measured 14 s vs 0.7 s at
    #   sf0.1 (no subexpression sharing inside interpreted
    #   higher-order functions).
    gram_body = (
        f"CASE WHEN size(T) >= {n} THEN array_distinct("
        f"transform(sequence(1, size(T) - {n - 1}), "
        f"i -> md5(array_join(slice(T, i, {n}), ' ')))) ELSE array() END"
    )
    grams = F.expr(
        f"transform(array(split({text_col}, ' ')), T -> {gram_body})[0]"
    )

    def _with_grams(df: DataFrame) -> DataFrame:
        # the row filter tests a CHEAP predicate (split+size only) so
        # its pushdown copy never drags the gram lambda into the scan
        return df.filter(
            F.size(F.split(F.col(text_col), " ")) >= n
        ).withColumn("gs", grams)

    bench_grams = (
        _with_grams(bench).select(F.explode("gs").alias("g")).distinct()
    )
    cg = _with_grams(corpus)
    hits = (
        cg.select(id_col, F.explode("gs").alias("g"))
        .join(F.broadcast(bench_grams), "g")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_matched_grams"))
    )
    return (
        cg.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_matched_grams"), F.lit(0)).cast("long").alias(
                "n_matched_grams"
            ),
            (F.coalesce(F.col("n_matched_grams"), F.lit(0)) > 0)
            .cast("int")
            .alias("contaminated"),
        )
    )


# PII patterns, restricted to constructs with identical semantics under
# Java regex (Spark) and RE2 (DuckDB): explicit char classes only — no
# \d, no \b, no lookaround.  Redaction ORDER matters (email first: its
# local/domain parts would otherwise be chewed up by the narrower
# patterns); counts are taken on the ORIGINAL text.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}", "<EMAIL>"),
    ("ip", "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}", "<IP>"),
    ("phone", "[0-9]{3}-[0-9]{4}", "<PHONE>"),
)


def with_pii_redacted(
    df: DataFrame, text_col: str = "text", out_col: str = "redacted"
) -> DataFrame:
    """PII scrubbing — the compliance pass every training-data pipeline
    runs before anything else sees the text: emails, IPv4 addresses and
    phone-shaped numbers are replaced with typed placeholder tokens,
    and per-document match counts are emitted for audit metrics.

    Pure regexp projections (scan-side, whole-stage codegen, no
    shuffle): at 100 TB this is a free rider on the cleaning scan.
    Counts come from the original text; the replacements chain in
    PII_PATTERNS order so overlapping matches resolve identically in
    both engines."""
    red = F.col(text_col)
    for name, pat, repl in PII_PATTERNS:
        df = df.withColumn(
            f"n_{name}s",
            F.expr(f"size(regexp_extract_all({text_col}, '{pat}', 0))").cast("long"),
        )
        red = F.regexp_replace(red, pat, repl)
    return df.withColumn(out_col, red)


def vocab_topk(df: DataFrame, k: int = 50, text_col: str = "text") -> DataFrame:
    """Corpus vocabulary head: the k most frequent tokens with corpus
    term frequency and document frequency — the first diagnostic run
    on any new text corpus (and the seed of a tokenizer vocabulary).

    Scale shape: explode → groupBy(token) is ONE shuffle whose map side
    partially aggregates (token, count) pairs — the shuffle carries the
    vocabulary, not the corpus.  The final top-k is `orderBy(...).
    limit(k)`, which Spark executes as TakeOrderedAndProject: each
    partition keeps its local k, the driver merges k·partitions rows —
    never a global sort of the vocabulary.  Ties break on the token
    string so the emitted SET is deterministic."""
    toks = df.select(
        F.col("doc_id"), F.explode(F.split(F.col(text_col), " ")).alias("token")
    )
    agg = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("tf_corpus"),
        F.countDistinct("doc_id").alias("df_docs"),
    )
    top = agg.orderBy(F.desc("tf_corpus"), F.asc("token")).limit(k)
    # rank over the k survivors only — a window over ≤ k rows, not a
    # global-sort of the vocabulary
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("tf_corpus"), F.asc("token"))
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


def tfidf_topk(df: DataFrame, k: int = 3, text_col: str = "text") -> DataFrame:
    """Top-k characteristic terms per document by tf-idf — the
    lightweight topic signal used for corpus slicing and mixture
    audits.

    idf is the RATIONAL form (N+1)/(df+1) instead of its logarithm:
    argmax-per-doc is invariant under the monotone log, and pure
    IEEE-754 divisions are bit-identical across engines where libm
    `ln` need not be — which keeps the DuckDB oracle exact.

    Scale shape: two token-keyed aggregations (per-doc tf, corpus df)
    + the corpus doc count as a broadcast 1-row join; the per-doc
    top-k is a row_number window partitioned by doc_id — key-parallel,
    no global sort.  The df join shuffles vocabulary-sized data only;
    AQE upgrades it to broadcast when the vocabulary fits."""
    from pyspark.sql import Window

    toks = df.select(
        F.col("doc_id"), F.explode(F.split(F.col(text_col), " ")).alias("token")
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("cnt"))
    n_tok = Window.partitionBy("doc_id")
    tf = tf.withColumn("n_tokens_doc", F.sum("cnt").over(n_tok))
    dfreq = (
        toks.distinct().groupBy("token").agg(F.count(F.lit(1)).alias("df_docs"))
    )
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            (F.col("cnt") / F.col("n_tokens_doc").cast("double"))
            * ((F.col("n_docs") + F.lit(1.0)) / (F.col("df_docs") + F.lit(1.0))),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("doc_id", "token", F.col("cnt").alias("tf"), "df_docs", "tfidf", "rank")
    )


def unigram_score(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Unigram-LM quality scoring — the deterministic stand-in for the
    perplexity filter big text pipelines gate on (CCNet/Gopher score
    each doc under a language model and drop the tails; the unigram
    model is the degenerate LM whose statistics a SQL engine can
    compute exactly).

    Per doc: ``n_tokens``, ``sum_tf`` (sum of each token's corpus
    frequency — repeated tokens count repeatedly, exactly like an LM
    scoring each position), ``min_tf`` (rarest token's corpus
    frequency: hapax/garbage detector), ``mean_token_tf`` and
    ``mean_token_prob`` (the per-position average probability under the
    corpus unigram distribution — low = surprising/noisy doc, high =
    boilerplate-ish).

    All-integer aggregation + single IEEE divisions at the end: a true
    mean LOG prob would sum libm `ln` terms whose last-ulp behavior and
    addition order differ across engines, so the score is kept in
    rational space — monotone transforms preserve the filter's ranking
    (same trade recorded by tfidf_topk's rational idf).

    Scale shape: explode → groupBy(token) builds the vocabulary (ONE
    shuffle, map-side combine, carries the vocabulary not the corpus);
    the score pass re-joins exploded tokens to the vocabulary (equi
    shuffle join; AQE broadcasts when the vocabulary fits) and reduces
    per doc with map-side partial sums.  The corpus total is a 1-row
    broadcast.  No step buffers more than a vocabulary partition."""
    toks = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("token")
    )
    tf = toks.groupBy("token").agg(F.count(F.lit(1)).alias("tf_corpus"))
    total = tf.agg(F.sum("tf_corpus").alias("total_tokens"))
    per_doc = toks.join(tf, "token").groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("tf_corpus").alias("sum_tf"),
        F.min("tf_corpus").alias("min_tf"),
    )
    return per_doc.crossJoin(F.broadcast(total)).select(
        id_col,
        "n_tokens",
        "sum_tf",
        "min_tf",
        "total_tokens",
        (F.col("sum_tf") / F.col("n_tokens").cast("double")).alias("mean_token_tf"),
        (
            F.col("sum_tf").cast("double")
            / (F.col("n_tokens").cast("double") * F.col("total_tokens").cast("double"))
        ).alias("mean_token_prob"),
    )


BPE_PATTERN = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"


def with_bpe_token_count(
    df: DataFrame, text_col: str = "text", out_col: str = "n_bpe_tokens"
) -> DataFrame:
    """BPE-ish token counting — the subword-aware twin of the
    whitespace count in :func:`with_token_stats`, used to budget
    training-token costs.  Pure regexp projection: no shuffle, stays in
    codegen; at 100 TB this is a scan-side column like any other."""
    return df.withColumn(
        out_col,
        F.expr(f"size(regexp_extract_all({text_col}, '{BPE_PATTERN}', 0))").cast("long"),
    )


def top_adjacent_pair(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The corpus's most frequent adjacent token pair — the argmax
    step of a BPE-style merge round.  ONE row out: (pair_left,
    pair_right, pair_count); ties break on the pair text so the choice
    is deterministic.  Shuffle carries (pair, partial count) only."""
    # token array LET-BOUND (transform-over-1-element-array binder):
    # an unbound form re-ran split() per bigram — O(n²) tokenization
    # per doc (measured ~2× at sf0.1; the substitution-duplication
    # family SCALE.md records).  No scan fan-out here: the per-row fold
    # is light and the groupBy's own exchange spreads the work
    # (measured: repartition cost exceeded its gain).
    bigrams = df.select(
        F.explode(
            F.expr(
                f"transform(array(split({text_col}, ' ')), TK -> "
                "CASE WHEN size(TK) >= 2 THEN "
                "transform(sequence(1, size(TK) - 1), "
                "i -> struct(element_at(TK, i) AS l, "
                "element_at(TK, i + 1) AS r)) "
                "ELSE array() END)[0]"
            )
        ).alias("bg"),
    )
    counts = bigrams.groupBy(
        F.col("bg.l").alias("pair_left"), F.col("bg.r").alias("pair_right")
    ).agg(F.count(F.lit(1)).alias("pair_count"))
    return counts.orderBy(
        F.desc("pair_count"), F.asc("pair_left"), F.asc("pair_right")
    ).limit(1)


def bpe_merge_round(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    joiner: str = "_",
    top: DataFrame | None = None,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """ONE round of BPE-style pair merging over the whole corpus — the
    tokenizer-induction primitive: find the most frequent adjacent
    token pair, then merge its non-overlapping occurrences greedily
    left-to-right in every document (exactly the BPE apply rule).
    Iterating K rounds = re-applying this to `new_text` (the same
    multi-action loop shape as `near_dup_clusters`).

    Greedy left-to-right without a sequential scan: in a run of
    CONSECUTIVE matching start positions (e.g. "a a a a" for pair
    (a,a)), BPE merges the 1st, 3rd, … occurrence — so the merge set
    is "odd offset within its island", a gaps-and-islands parity
    computation over the matching positions: per-doc windows, fully
    key-parallel, no UDF.  Output per doc: (doc_id, n_merges,
    new_text).

    Scale shape: one bigram-keyed count (map-side combine; shuffle
    carries the pair vocabulary), a 1-row argmax broadcast, one
    doc-keyed window over MATCHING positions only, and a scan-side
    array rebuild.  All linear in corpus tokens.

    ``top`` overrides the argmax-pair table (1 row: pair_left,
    pair_right[, pair_count]) — `bpe_vocab_induction` passes the table
    it already materialized for its stop-rule check, saving one bigram
    count job per round.  An EMPTY top makes the round a no-op
    (n_merges 0, text unchanged) — the conditional-round semantics the
    induction oracle replays.

    ``carry`` names extra input columns to pass through unchanged into
    the output (r13, guide §2.4): the K-round loops accumulate a merge
    counter, and joining each round's output back to the counter table
    shuffled the rebuilt corpus text one extra time PER ROUND — riding
    the counter through the rebuild projection costs nothing (the
    rebuild join on ``mpos`` already carries the text)."""
    if top is None:
        top = top_adjacent_pair(df, text_col)

    toks = F.split(F.col(text_col), " ")
    carry_cols = [F.col(c) for c in carry]
    base = df.select(F.col(id_col), F.col(text_col), *carry_cols).withColumn(
        "__T__", toks
    )
    positions = base.select(
        F.col(id_col),
        F.posexplode(
            F.expr(
                "CASE WHEN size(__T__) >= 2 THEN slice(__T__, 1, size(__T__) - 1) "
                "ELSE array() END"
            )
        ).alias("_p0", "_tok_l"),
        F.col("__T__"),
    ).select(
        id_col,
        (F.col("_p0") + 1).alias("_i"),  # 1-based pair start
        F.col("_tok_l"),
        F.element_at("__T__", F.col("_p0") + 2).alias("_tok_r"),
    )
    flagged = positions.crossJoin(F.broadcast(top)).filter(
        (F.col("_tok_l") == F.col("pair_left"))
        & (F.col("_tok_r") == F.col("pair_right"))
    )
    w = Window.partitionBy(id_col).orderBy("_i")
    runs = flagged.withColumn("_rn", F.row_number().over(w)).withColumn(
        "_island", F.col("_i") - F.col("_rn")
    )
    w_isl = Window.partitionBy(id_col, "_island").orderBy("_i")
    merges = runs.withColumn("_k", F.row_number().over(w_isl)).filter(
        F.col("_k") % 2 == 1  # 1st, 3rd, … of each consecutive run
    )
    mpos = merges.groupBy(id_col).agg(
        F.array_sort(F.collect_list("_i")).alias("_mpos")
    )
    # the joiner rides in as a literal COLUMN, never interpolated into
    # the SQL expression text — a quote/backslash in it would otherwise
    # break (or inject into) the expression (ADVICE r5)
    rebuilt = (
        base.join(mpos, id_col, "left")
        .withColumn("_mpos", F.coalesce(F.col("_mpos"), F.expr("array()")))
        .withColumn("_joiner", F.lit(joiner))
        .withColumn(
            "_new",
            F.expr(
                "filter(transform(sequence(1, size(__T__)), i -> "
                "CASE WHEN array_contains(_mpos, i) THEN "
                "concat(element_at(__T__, i), _joiner, element_at(__T__, i + 1)) "
                "WHEN array_contains(_mpos, i - 1) THEN NULL "
                "ELSE element_at(__T__, i) END), x -> x IS NOT NULL)"
            ),
        )
    )
    return rebuilt.select(
        id_col,
        F.size("_mpos").cast("long").alias("n_merges"),
        F.concat_ws(" ", "_new").alias("new_text"),
        *[F.col(c) for c in carry],
    )


def bpe_merge_k(
    df: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    joiner: str = "_",
) -> DataFrame:
    """K rounds of `bpe_merge_round` — tokenizer INDUCTION, not just
    one merge (VERDICT r5 #5): each round finds the corpus-argmax
    adjacent pair of the PREVIOUS round's output and greedily applies
    it, exactly the sequential BPE training loop (fuzz-pinned against
    the Python reference for the composed K-round case).

    Output per doc: (doc_id, n_merges = total across rounds,
    new_text = the K-times-merged text).

    Each round materializes via `util.materialize` (a local
    checkpoint, or a reliable one when `spark.checkpoint.dir` is
    set): a round references its input three times (bigram count, positions,
    rebuild), so K lazily-stacked rounds would re-substitute the
    rebuild expression ~3^K times into one plan — the same
    substitution-duplication codegen trap SCALE.md documents for the
    repetition filters.  K rounds = K jobs, each linear in corpus
    tokens."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    cur = df.select(
        F.col(id_col), F.col(text_col), F.lit(0).cast("long").alias("_acc")
    )
    for _ in range(k):
        # carry the accumulator through the round instead of joining it
        # back (r13): the join shuffled the rebuilt corpus text once
        # more per round
        out = bpe_merge_round(cur, text_col, id_col, joiner, carry=("_acc",))
        cur = materialize(
            out.select(
                id_col,
                F.col("new_text").alias(text_col),
                (F.col("_acc") + F.col("n_merges")).alias("_acc"),
            )
        )
    return cur.select(
        id_col,
        F.col("_acc").alias("n_merges"),
        F.col(text_col).alias("new_text"),
    )


def bpe_apply(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    joiner: str = "_",
) -> DataFrame:
    """Apply a TRAINED merge list to a corpus — the tokenizer-APPLY
    half of the BPE pair (`bpe_vocab_induction` is the TRAIN half):
    each (left, right) merge is applied greedily in PRIORITY ORDER
    with NO recounting, exactly how a shipped tokenizer encodes unseen
    text (training picks the ranks once; encoding replays them).  This
    differs from `bpe_merge_k`, which re-argmaxes the CURRENT corpus
    each round — applying a trained tokenizer to a new crawl must not
    depend on the new crawl's statistics.

    Per merge: one literal 1-row pair table rides the same
    `bpe_merge_round(top=...)` machinery (gaps-and-islands parity,
    per-round materialization).  len(merges) linear jobs; output
    (doc_id, n_merges, new_text)."""
    cur = materialize(
        df.select(
            F.col(id_col), F.col(text_col), F.lit(0).cast("long").alias("_acc")
        )
    )
    for left, right in merges:
        top = df.sparkSession.createDataFrame(
            [(left, right)], "pair_left string, pair_right string"
        )
        # carry the accumulator through the round instead of joining it
        # back (r13): the join shuffled the rebuilt corpus text once
        # more per round
        out = bpe_merge_round(
            cur, text_col, id_col, joiner, top=top, carry=("_acc",)
        )
        cur = materialize(
            out.select(
                id_col,
                F.col("new_text").alias(text_col),
                (F.col("_acc") + F.col("n_merges")).alias("_acc"),
            )
        )
    return cur.select(
        id_col,
        F.col("_acc").alias("n_merges"),
        F.col(text_col).alias("new_text"),
    )


def top_adjacent_pairs(
    df: DataFrame, n: int, text_col: str = "text"
) -> list[tuple[str, str]]:
    """The ``n`` most frequent adjacent pairs of the corpus, in merge
    priority order (count desc, then lexicographic) — the trained
    merge table `bpe_apply` consumes.  One bigram-keyed count job and
    an O(n)-row collect."""
    bigrams = df.select(
        F.explode(
            F.expr(
                f"transform(array(split({text_col}, ' ')), TK -> "
                "CASE WHEN size(TK) >= 2 THEN "
                "transform(sequence(1, size(TK) - 1), "
                "i -> struct(element_at(TK, i) AS l, "
                "element_at(TK, i + 1) AS r)) "
                "ELSE array() END)[0]"
            )
        ).alias("bg"),
    )
    counts = bigrams.groupBy(
        F.col("bg.l").alias("l"), F.col("bg.r").alias("r")
    ).agg(F.count(F.lit(1)).alias("c"))
    rows = counts.orderBy(F.desc("c"), F.asc("l"), F.asc("r")).limit(n).collect()
    return [(row["l"], row["r"]) for row in rows]


def corpus_vocab_size(df: DataFrame, text_col: str = "text") -> int:
    """Distinct token-type count over the corpus — the vocabulary-size
    probe the induction stop rule reads each round.  One explode +
    count-distinct: the partial distinct combines map-side, the shuffle
    carries token types (vocabulary-sized), never corpus positions."""
    return (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("tok"))
        .agg(F.countDistinct("tok").alias("v"))
        .first()[0]
    )


def bpe_vocab_induction(
    df: DataFrame,
    vocab_target: int,
    min_freq: int = 2,
    max_rounds: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    joiner: str = "_",
) -> DataFrame:
    """BPE tokenizer induction in its PRODUCTION form (VERDICT r6 #8):
    merge rounds run until the vocabulary reaches ``vocab_target``
    token types, no adjacent pair occurs at least ``min_freq`` times,
    or ``max_rounds`` is exhausted — the grow-the-vocab-to-V loop a
    real tokenizer trainer executes, generalizing the fixed-K
    `bpe_merge_k`.

    Round semantics (what the oracle replays): a round MERGES iff
    ``vocab_size < vocab_target AND top pair count >= min_freq``,
    else it is a NO-OP (empty argmax table → zero merges, text
    unchanged).  Because a no-op round leaves the corpus unchanged,
    every later round is also a no-op — so this early-exit loop equals
    the oracle's fixed-``max_rounds`` chain of CONDITIONAL rounds
    bit-for-bit, while the Spark side stops paying for jobs the moment
    the rule binds.

    Per live round: one O(1)-row vocabulary probe, one bigram argmax
    (materialized once and shared with the merge via
    `bpe_merge_round(top=...)`), one merge job — all linear in corpus
    tokens, with per-round materialization via `util.materialize`
    against the 3^K substitution trap (see `bpe_merge_k`)."""
    if max_rounds < 0:
        raise ValueError(f"max_rounds must be >= 0, got {max_rounds}")
    cur = materialize(
        df.select(
            F.col(id_col), F.col(text_col), F.lit(0).cast("long").alias("_acc")
        )
    )
    for _ in range(max_rounds):
        if corpus_vocab_size(cur, text_col) >= vocab_target:
            break
        top = materialize(top_adjacent_pair(cur, text_col))
        top_rows = top.collect()
        if not top_rows or top_rows[0]["pair_count"] < min_freq:
            break
        # carry the accumulator through the round instead of joining it
        # back (r13): the join shuffled the rebuilt corpus text once
        # more per round
        out = bpe_merge_round(
            cur, text_col, id_col, joiner, top=top, carry=("_acc",)
        )
        cur = materialize(
            out.select(
                id_col,
                F.col("new_text").alias(text_col),
                (F.col("_acc") + F.col("n_merges")).alias("_acc"),
            )
        )
    return cur.select(
        id_col,
        F.col("_acc").alias("n_merges"),
        F.col(text_col).alias("new_text"),
    )


def with_quality_classifier(
    df: DataFrame, text_col: str = "text", salt: str = "qw"
) -> DataFrame:
    """Model-based quality scoring with the hashing trick — the
    fasttext-style LINEAR classifier shape production cleaning
    pipelines run after the heuristic ratios: every token hashes to a
    deterministic integer weight in [-7, 8] (one md5 nibble, the same
    decode the LSH hyperplanes use), the doc's feature sum is an exact
    int64 fold, and the score is the mean weight.  A trained model
    swaps the md5 nibble for a learned weight lookup (broadcast map or
    join against a weights table) — every plan shape is identical, and
    the md5 choice keeps the whole thing DuckDB-replayable.

    Output columns: ``n_tokens``, ``feat_sum`` (exact), ``lin_score``
    (= feat_sum/n_tokens, one IEEE division of exact ints — bit-portable;
    deliberately NOT squashed through exp/sigmoid, whose libm rounding
    may differ across engines), ``keep`` = feat_sum > 0 (the decision
    is sign-exact, so no float threshold ambiguity).

    Pure Column algebra: zero shuffle, whole-stage codegen, linear in
    corpus tokens — the 100 TB posture of the rest of this module."""
    import re

    from .similarity import HEX

    # the salt lands inside SQL expression text — validate instead of
    # escaping (same injection class as bpe_merge_round's joiner,
    # ADVICE r5; a column bind can't reach inside the let-bound fold)
    if not re.fullmatch(r"[A-Za-z0-9_\-]+", salt):
        raise ValueError(f"salt must be [A-Za-z0-9_-]+, got {salt!r}")
    w = f"(instr('{HEX}', substring(md5(concat('{salt}|', tk)), 1, 1)) - 8)"
    fold = (
        f"transform(array(split({text_col}, ' ')), TK -> named_struct("
        "'n', size(TK), "
        f"'s', aggregate(TK, CAST(0 AS BIGINT), (a, tk) -> a + {w})))[0]"
    )
    out = df.withColumn("__Q__", F.expr(fold))
    return out.select(
        *df.columns,
        F.col("__Q__.n").cast("long").alias("n_tokens"),
        F.col("__Q__.s").alias("feat_sum"),
        (F.col("__Q__.s").cast("double") / F.col("__Q__.n").cast("double")).alias(
            "lin_score"
        ),
        (F.col("__Q__.s") > 0).alias("keep"),
    )


CMS_DEPTH = 3
CMS_WIDTH = 16


def _cms_pos(salt: int, tok_col: str, width: int):
    """Portable bucket hash: first 8 md5 nibbles of 'cms{salt}|tok'
    mod width — the same md5-decode idiom as sampling._hash_uniform,
    so the DuckDB oracle replays bucket collisions bit-for-bit."""
    return (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit(f"cms{salt}|"), F.col(tok_col)).cast("binary")
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % width
    )


def token_cms(
    df: DataFrame,
    text_col: str = "text",
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Count-min sketch TABLE over corpus tokens — the relational
    sketch form (like `band_bloom_bits`): ``depth`` independent hash
    rows each owning ``width`` buckets, token count added to one
    bucket per row.  Output (salt, pos, cnt), ≤ depth × width rows
    REGARDLESS of corpus size — bounded, broadcastable, and MERGEABLE
    by plain (salt, pos) sum, which is what makes it the streaming /
    multi-shard token counter when the exact vocabulary doesn't fit
    (each executor sketches its shard, sketches add up).

    Build plan: one corpus-token groupBy (map-side combinable, the
    only corpus-keyed shuffle), then the vocabulary-sized count table
    fans out to depth bucket rows — sketch aggregation never touches
    corpus-scale data again."""
    toks = ensure_parallelism(df).select(
        F.explode(F.split(F.col(text_col), " ")).alias("tok")
    )
    tc = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    rows = tc.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("salt"),
                        _cms_pos(s, "tok", width).alias("pos"),
                        F.col("cnt").alias("cnt"),
                    )
                    for s in range(depth)
                ]
            )
        ).alias("r")
    ).select("r.*")
    return rows.groupBy("salt", "pos").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(
    cms: DataFrame,
    tokens: DataFrame,
    tok_col: str = "tok",
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Point-query the sketch: est(tok) = min over the depth rows of
    the token's bucket count (the count-min estimator).  The sketch is
    ≤ depth × width rows → BROADCAST; the probe side joins it on
    (salt, pos) without shuffling.  CMS guarantees est ≥ true count —
    the property the registered query's gate pins per token."""
    probes = tokens.select(
        tok_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("salt"),
                        _cms_pos(s, tok_col, width).alias("pos"),
                    )
                    for s in range(depth)
                ]
            )
        ).alias("p"),
    ).select(tok_col, "p.salt", "p.pos")
    joined = probes.join(F.broadcast(cms), ["salt", "pos"], "left")
    return joined.groupBy(tok_col).agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("long").alias("est_cnt")
    )


HIST_BIN_WIDTH = 8


def length_histogram(
    df: DataFrame,
    group_col: str,
    text_col: str = "text",
    bin_width: int = HIST_BIN_WIDTH,
) -> DataFrame:
    """Per-group token-length HISTOGRAM table — the fourth relational
    sketch (Bloom membership, CMS frequency, HLL cardinality,
    histogram distribution): (grp, bin, cnt) rows with bin =
    n_tokens div bin_width, bounded by max_length/bin_width per group
    REGARDLESS of corpus size and mergeable by (grp, bin) SUM — the
    shape length-bucketed batch sizing and sequence-packing planners
    consume at 100 TB, where an exact per-group length multiset
    doesn't fit anywhere."""
    lens = ensure_parallelism(df).select(
        F.col(group_col).alias("grp"),
        F.size(F.split(F.col(text_col), " ")).cast("long").alias("v"),
    )
    return (
        lens.withColumn("bin", F.expr(f"v div {bin_width}"))
        .groupBy("grp", "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def histogram_quantile(
    hist: DataFrame, q_num: int, q_den: int, bin_width: int = HIST_BIN_WIDTH
) -> DataFrame:
    """Quantile ESTIMATE from the histogram sketch: the upper edge of
    the first bin whose cumulative count reaches ceil(q·n) — pure
    integer arithmetic (threshold = (q_num·n + q_den − 1) div q_den),
    so the estimate is engine-exact and the oracle gates it by hash.
    Resolution is ±bin_width by construction; the registered query
    reports it next to the exact quantile so the error is measured,
    not assumed.  The cumulative window runs over ≤ max_len/bin_width
    rows per group — sketch-sized, never corpus-sized."""
    from pyspark.sql import Window

    totals = hist.groupBy("grp").agg(F.sum("cnt").alias("n"))
    w = Window.partitionBy("grp").orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.withColumn("cum", F.sum("cnt").over(w)).join(totals, "grp")
    thr = F.expr(f"(({q_num} * n) + {q_den - 1}) div {q_den}")
    hit = cum.filter(F.col("cum") >= thr)
    return hit.groupBy("grp").agg(
        ((F.min("bin") + 1) * bin_width).cast("long").alias("est")
    )


HLL_B = 4  # 2^4 = 16 buckets; alpha_16 is the published constant
HLL_ALPHA_16 = 0.673


def token_hll_sketch(
    df: DataFrame,
    group_col: str,
    text_col: str = "text",
    b: int = HLL_B,
) -> DataFrame:
    """Per-group HyperLogLog sketch TABLE over tokens — the third
    relational sketch (Bloom = membership, CMS = frequency, HLL =
    cardinality): (group, bucket, max_rho) rows, ≤ 2^b per group
    REGARDLESS of token count, mergeable by (group, bucket) MAX —
    per-shard sketches combine losslessly, the distinct-counter shape
    when exact per-group vocabularies don't fit (Spark's built-in
    approx_count_distinct is the opaque-binary form of exactly this;
    the relational table is storable/versionable and oracle-exact).

    Bucket = low b bits of the 32-bit md5 prefix; rho = leading-zero
    rank of the remaining 28 bits, computed portably as
    ``29 - length(bin(w))`` (bin() drops leading zeros in BOTH Spark
    and DuckDB), 29 for w = 0.  Duplicate tokens are a no-op under
    max — no distinct pass needed."""
    m = 1 << b
    toks = ensure_parallelism(df).select(
        F.col(group_col).alias("grp"),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("hll|"), F.col("tok")).cast("binary")), 1, 8
        ),
        16,
        10,
    ).cast("long")
    toks = toks.withColumn("_h", h).withColumn(
        "bucket", F.col("_h") % m
    ).withColumn("_w", F.expr(f"_h div {m}"))
    rho = F.when(F.col("_w") == 0, F.lit(29)).otherwise(
        F.lit(29) - F.length(F.bin(F.col("_w")))
    )
    return (
        toks.withColumn("_rho", rho)
        .groupBy("grp", "bucket")
        .agg(F.max("_rho").cast("long").alias("max_rho"))
    )


def hll_estimate(
    sketch: DataFrame, b: int = HLL_B, alpha: float = HLL_ALPHA_16
) -> DataFrame:
    """Raw HLL estimator per group: alpha · m² / Σ_j 2^(−M[j]), empty
    buckets contributing 2^0 = 1.  Every 2^(−M) is an exact dyadic
    double and the sum/divide are single IEEE ops — bit-portable, so
    the DuckDB oracle gates the ESTIMATE itself, not just the sketch.
    (The small-range linear-counting correction needs ln(), whose libm
    rounding differs across engines — deliberately not applied; the
    registered query reports the raw estimator and the exact truth
    side by side, which is what an accuracy audit wants anyway.)"""
    m = 1 << b
    agg = sketch.groupBy("grp").agg(
        F.sum(F.expr("power(2.0d, -max_rho)")).alias("_s"),
        F.count(F.lit(1)).alias("_nb"),
    )
    denom = F.col("_s") + (F.lit(m) - F.col("_nb")).cast("double")
    return agg.select(
        "grp",
        (F.lit(float(alpha)) * F.lit(float(m * m)) / denom).alias("hll_raw_est"),
    )


def with_gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_word_frac: float = 0.8,
    min_distinct_stopwords: int = 2,
    max_top_bigram_frac: float = 0.2,
    max_run_len: int = 4,
) -> DataFrame:
    """Gopher-style HARD rule filter (Rae et al. 2021 §A1.1) — the
    pass/fail gate production cleaning pipelines run before any
    model-based scoring, with per-rule flags so the reject reasons are
    auditable (the Dolma/RedPajama reporting convention):

    * ``r_word_count`` — word count in [min_words, max_words];
    * ``r_mean_word_len`` — mean word length in [3, 10];
    * ``r_symbol_ratio`` — '#'/'…' symbols per word ≤ 0.1;
    * ``r_alpha_words`` — ≥ 80 % of words contain a letter;
    * ``r_stopwords`` — ≥ 2 DISTINCT stopwords present;
    * ``r_top_bigram`` — most-frequent 2-gram claims ≤ 20 % of grams;
    * ``r_max_run`` — longest same-token run ≤ ``max_run_len`` (the
      keyword-stuffing analog of Gopher's duplicate-line rules, which
      need line structure this corpus lacks).

    ``keep`` = every rule passes; ``n_failed`` = failed-rule count.
    All thresholds are the published defaults; ratio comparisons are
    one IEEE division of exact ints per side — bit-portable, so the
    DuckDB oracle gates every flag column by hash.

    Pure Column algebra on top of `with_token_stats` /
    `with_repetition_stats` (let-bound folds, no UDF, no shuffle) —
    linear in corpus tokens, the module's 100 TB posture."""
    df = with_repetition_stats(with_token_stats(df, text_col), text_col, 2)
    toks = f"split({text_col}, ' ')"
    n_distinct_stop = F.expr(
        f"size(array_distinct(filter({toks}, t -> t IN {_in_list(STOPWORDS)})))"
    ).cast("long")
    alpha_frac = F.expr(
        f"transform(array({toks}), TK -> "
        "size(filter(TK, t -> t rlike '[A-Za-z]')) / cast(size(TK) as double))[0]"
    )
    sym_cnt = (
        F.length(F.col(text_col))
        - F.length(F.regexp_replace(F.col(text_col), "[#…]", ""))
    ).cast("long")
    df = (
        df.withColumn("n_distinct_stopwords", n_distinct_stop)
        .withColumn("alpha_word_frac", alpha_frac)
        .withColumn(
            "symbol_ratio", sym_cnt / F.col("n_tokens").cast("double")
        )
    )
    rules = {
        "r_word_count": (F.col("n_tokens") >= min_words)
        & (F.col("n_tokens") <= max_words),
        "r_mean_word_len": (F.col("avg_token_len") >= min_mean_word_len)
        & (F.col("avg_token_len") <= max_mean_word_len),
        "r_symbol_ratio": F.col("symbol_ratio") <= max_symbol_ratio,
        "r_alpha_words": F.col("alpha_word_frac") >= min_alpha_word_frac,
        "r_stopwords": F.col("n_distinct_stopwords")
        >= min_distinct_stopwords,
        "r_top_bigram": F.col("top_ngram_frac") <= max_top_bigram_frac,
        "r_max_run": F.col("max_run_len") <= max_run_len,
    }
    for name, cond in rules.items():
        df = df.withColumn(name, cond)
    n_failed = sum(
        (~F.col(n)).cast("long") for n in rules
    )
    return df.withColumn("n_failed", n_failed).withColumn(
        "keep", F.col("n_failed") == 0
    )


def with_normalized_text(
    df: DataFrame, text_col: str = "text", out_col: str = "norm_text"
) -> DataFrame:
    """Canonical text normalization — the pre-dedup cleaning step that
    makes near-identical boilerplate hash-equal: lowercase, map every
    whitespace char to a space FIRST (so 'foo\\nbar' and 'foo bar'
    normalize identically — deleting \\n with the punctuation class
    would glue words together, round-6 review), strip remaining
    non-alphanumerics, collapse space runs, trim.  Patterns are
    restricted to character classes that behave identically under Java
    regex (Spark) and RE2 (DuckDB) — no lookaround, no \\s shorthand
    ambiguity — so the normalized bytes (and their md5) are
    engine-portable.  Pure per-row Column algebra: zero shuffle."""
    norm = F.lower(F.col(text_col))
    norm = F.regexp_replace(norm, "[\\t\\n\\r\\f]", " ")
    norm = F.regexp_replace(norm, "[^a-z0-9 ]", "")
    norm = F.regexp_replace(norm, " +", " ")
    return df.withColumn(out_col, F.trim(norm))


def with_winnowing_fingerprints(
    df: DataFrame,
    k: int = 4,
    w: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing fingerprint selection (the MOSS scheme) — the
    guarantee-bearing upgrade of `with_fingerprint`'s single min-hash:
    hash every k-token shingle, slide a w-hash window, select each
    window's MINIMAL hash (rightmost position on hash ties), dedupe.
    Any shared substring of >= w + k - 1 tokens between two documents
    is guaranteed to share at least one selected fingerprint — the
    property plagiarism/boilerplate detectors build indexes on.

    Selection key encoding: ``md5(shingle) || '|' || lpad(999999 - pos)``
    — a plain string min realizes (hash asc, pos DESC) = rightmost
    minimal, so both engines select with one ``min`` and no struct
    comparisons (DuckDB's list_min can't order structs).  Caps docs at
    999 999 shingle positions — chunk longer docs upstream.  The cap
    is ENFORCED, not just documented: position 1 000 000 would encode
    as a negative lpad, silently breaking the (hash asc, pos desc)
    string ordering and the pos decode, so an over-cap doc
    raise_errors instead (ADVICE r6; same guard style as
    embedding_gram's dim check — the guard feeds the sequence bound,
    so Catalyst cannot prune it, and it only fires on the bad row).

    The token/shingle/key arrays are LET-BOUND (the module's nested
    transform-over-1-element-array binders): as plain projected
    columns, Catalyst substitutes the key-building transform into
    EVERY window slice — O(positions^2) md5 recomputation per doc,
    measured as a multi-minute hang at sf0.001 vs sub-second let-bound
    (the substitution-duplication family SCALE.md records).

    Output: one row per selected fingerprint (doc_id, pos, fp).  Pure
    array algebra before the explode: zero shuffle, linear in corpus
    positions (m windows x w-element slices; w is a small constant).
    A window larger than the doc degrades to one global min — the
    standard boundary rule."""
    shingle_parts = ", ".join(f"element_at(TK, i + {j})" for j in range(k))
    sel_expr = (
        f"transform(array(split({text_col}, ' ')), TK -> "
        f"transform(array(CASE WHEN size(TK) >= {k} "
        f"THEN transform(sequence(1, size(TK) - {k - 1}), "
        f"i -> concat_ws(' ', {shingle_parts})) "
        f"ELSE array(concat_ws(' ', TK)) END), SH -> "
        "transform(array(transform(sequence(1, "
        "CASE WHEN size(SH) <= 999999 THEN size(SH) "
        "ELSE CAST(raise_error(concat('with_winnowing_fingerprints: ', "
        "CAST(size(SH) AS STRING), "
        "' shingle positions > 999999; chunk longer docs upstream')) AS INT) END), "
        "i -> concat(md5(element_at(SH, i)), '|', "
        "lpad(cast(999999 - i as string), 6, '0')))), KS -> "
        f"array_distinct(transform(sequence(1, greatest(1, size(KS) - {w - 1})), "
        f"i -> array_min(slice(KS, i, {w})))))[0])[0])[0]"
    )
    out = ensure_parallelism(df).select(
        F.col(id_col), F.explode(F.expr(sel_expr)).alias("_k")
    )
    return out.select(
        id_col,
        (F.lit(999999) - F.substring("_k", 34, 6).cast("int")).cast("long").alias("pos"),
        F.substring("_k", 1, 32).alias("fp"),
    )


def boilerplate_line_removal(
    df: DataFrame,
    min_doc_freq: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-wide repeated-LINE removal — the RefinedWeb/Falcon
    boilerplate pass: a line that appears (trim-normalized) in
    ``min_doc_freq`` or more DISTINCT documents is site chrome
    (cookie banners, "subscribe" calls, nav text), not content, and is
    cut from every document; remaining lines are reassembled in
    original order.  Complements `dup_span_removal` (cross-doc token
    SPANS) and `with_gopher_rules` (per-doc intrinsic stats): this is
    the corpus-frequency rule neither expresses.

    Plan, 100 TB posture: posexplode lines → line-md5 doc-frequency
    (TWO-LEVEL aggregation: distinct (line, doc) first, then count —
    both map-side combinable, shuffles carry (32-byte md5, id) pairs);
    the flagged-key set joins back by equi-join on the md5 (AQE
    broadcasts it when small — the common case: boilerplate
    vocabularies are tiny relative to corpora); reassembly groups the
    surviving lines per doc — the one corpus-text-sized shuffle, same
    cost class as any cleaning rewrite.  A hot line ("Subscribe now"
    in 10⁸ docs) is only ever a GROUPED count, never a window
    partition — no skew surface.

    Output (doc_id, clean_text, n_lines, n_removed); empty docs (all
    lines removed) keep a row with clean_text = ''."""
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).withColumn("lk", F.md5(F.trim(F.col("line")).cast("binary")))
    docfreq = (
        lines.select("lk", id_col)
        .distinct()
        .groupBy("lk")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    flagged = docfreq.filter(F.col("df") >= min_doc_freq).select("lk")
    kept = lines.join(flagged.withColumn("_bp", F.lit(True)), "lk", "left")
    return (
        kept.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.when(F.col("_bp"), 1).otherwise(0))
            .cast("long")
            .alias("n_removed"),
            F.array_join(
                F.expr("transform(array_sort(collect_list(CASE WHEN _bp IS NULL "
                       "THEN struct(pos, line) END)), s -> s.line)"),
                "\n",
            ).alias("clean_text"),
        )
        .select(
            id_col,
            "clean_text",
            F.col("n_lines").cast("long"),
            "n_removed",
        )
    )


BIGRAM_PROB_SCALE = 1_000_000


def bigram_lm_score(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Bigram-LM quality scoring — one step up the Markov ladder from
    `unigram_score` toward the perplexity filter big pipelines gate on
    (CCNet scores docs under a 5-gram KenLM; the bigram model is the
    largest-context LM whose statistics stay exactly relational).

    Per position i ≥ 2 the conditional probability under the corpus
    bigram MLE is c(w_{i−1} w_i) / c(w_{i−1}·) — both EXACT corpus
    counts — and the per-position score is kept on the scaled-int grid
    as floor(1e6 · c_bigram / c_prev) (one IEEE division + floor per
    position, then INT64 sums: no float summation order anywhere, so
    the oracle replays bit-for-bit; the DSIR/_ilog fixed-point
    discipline).  c(w·) counts the token as a bigram PREFIX (the
    standard MLE denominator: Σ_w' c(w w') = c(w·)), i.e. each doc's
    last token is excluded — pinned by the oracle.

    Output per doc: ``n_bigrams``, ``sum_cond_scaled`` (Σ of scaled
    conditional probabilities — high = predictable/boilerplate, low =
    surprising/noisy; divide by n_bigrams·1e6 downstream for the
    mean), ``min_bigram_tf`` (rarest transition's corpus count — the
    hapax-transition detector), ``n_novel_bigrams`` (transitions with
    corpus count 1: unique to this doc).  Docs with < 2 tokens get no
    row (no transitions to score) — the oracle agrees.

    Scale shape: ONE bigram-vocabulary groupBy (map-side combinable;
    the shuffle carries bigram strings once), prefix counts derived
    from the bigram table (vocabulary-sized, NOT another corpus pass),
    then a bigram-keyed equi-join back to doc positions and a per-doc
    sum.  A hot bigram ("of the" everywhere) is a grouped count and a
    join key — never a window partition."""
    toks = "split(" + text_col + ", ' ')"
    pair_arr = (
        f"CASE WHEN size({toks}) >= 2 THEN "
        f"zip_with(slice({toks}, 1, size({toks}) - 1), "
        f"slice({toks}, 2, size({toks}) - 1), (a, b) -> concat(a, ' ', b)) "
        "ELSE array() END"
    )
    pairs = df.select(
        F.col(id_col), F.explode(F.expr(pair_arr)).alias("bg")
    )
    bg_tf = pairs.groupBy("bg").agg(F.count(F.lit(1)).alias("c_bg"))
    # prefix counts from the bigram table: c(w·) = Σ_suffix c(w suffix)
    prev_tf = (
        bg_tf.withColumn("prev", F.expr("split_part(bg, ' ', 1)"))
        .groupBy("prev")
        .agg(F.sum("c_bg").alias("c_prev"))
    )
    scored = (
        pairs.join(bg_tf, "bg")
        .withColumn("prev", F.expr("split_part(bg, ' ', 1)"))
        .join(prev_tf, "prev")
        .withColumn(
            "cond_scaled",
            F.expr(f"(c_bg * CAST({BIGRAM_PROB_SCALE} AS BIGINT)) div c_prev"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("cond_scaled").alias("sum_cond_scaled"),
        F.min("c_bg").alias("min_bigram_tf"),
        F.sum(F.when(F.col("c_bg") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_novel_bigrams"),
    )


def interpolated_lm_score(
    df: DataFrame,
    lam_num: int = 7,
    lam_den: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Jelinek–Mercer interpolated bigram→unigram LM scoring — one more
    rung from `bigram_lm_score` toward the CCNet perplexity filter
    (VERDICT r8 ask #2): the pure bigram MLE gives a rare transition
    essentially no mass (a doc of only corpus-novel transitions scores
    ≈ 0 and is indistinguishable from noise), so per position i ≥ 2 the
    interpolated conditional is

        P(w_i | w_{i−1}) = λ·c(w_{i−1} w_i)/c(w_{i−1}·)
                         + (1−λ)·c(w_i)/T

    with λ = ``lam_num``/``lam_den`` as EXACT integers — the standard
    JM backoff that keeps novel transitions separated by how plausible
    the CURRENT token is on its own.  The whole thing stays on the
    scaled-int grid:

        s_bg     = (c_bg · 10^6)  div c_prev          (bigram term)
        s_uni    = (c_uni · 10^6) div T               (unigram term)
        s_interp = (lam_num·s_bg + (lam_den−lam_num)·s_uni) div lam_den

    — one integer floor-division per term, then INT64 sums: no float
    summation order anywhere, bit-exact in the DuckDB oracle (the
    DSIR/_ilog fixed-point discipline).  Headroom: s ≤ 10^6 and
    lam ≤ 10^3 keeps every product « 2^63.

    Output per doc: ``n_bigrams``, ``sum_interp_scaled`` (the gating
    statistic), ``sum_bigram_scaled`` / ``sum_unigram_scaled`` (the
    unmixed terms, so the λ-mix itself is attestable and callers can
    re-mix λ downstream without another corpus pass).  Docs with < 2
    tokens get no row — the bigram_lm_score convention.

    Scale shape: everything `bigram_lm_score` does plus ONE token-
    vocabulary groupBy (map-side combinable, vocabulary-sized output)
    and a 1-row total-token broadcast; the current-token unigram join
    is another vocabulary-keyed equi-join.  Hot tokens/bigrams are
    grouped counts and join keys, never window partitions."""
    toks = "split(" + text_col + ", ' ')"
    pair_arr = (
        f"CASE WHEN size({toks}) >= 2 THEN "
        f"zip_with(slice({toks}, 1, size({toks}) - 1), "
        f"slice({toks}, 2, size({toks}) - 1), (a, b) -> concat(a, ' ', b)) "
        "ELSE array() END"
    )
    # pairs feeds THREE consumers (the bigram vocabulary, its prefix
    # marginals via bg_tf, and the scoring join's probe side) and
    # bg_tf two — cut the lineage once each (util.materialize: local
    # for tests, reliable when spark.checkpoint.dir is set).
    # Unmaterialized, Spark (a) recomputes the explode per branch and
    # (b) static-estimates the bigram vocabulary under the broadcast
    # threshold and builds a corpus-scale driver hash relation: the 25×
    # probe measured the uncut chain at 173–570 s (load-sensitive,
    # GC-bound) vs ~115 s cut, and the cut makes downstream join
    # strategy follow REAL post-materialization stats instead of
    # file-size guesses.
    pairs = materialize(
        df.select(F.col(id_col), F.explode(F.expr(pair_arr)).alias("bg"))
    )
    bg_tf = materialize(pairs.groupBy("bg").agg(F.count(F.lit(1)).alias("c_bg")))
    prev_tf = (
        bg_tf.withColumn("prev", F.expr("split_part(bg, ' ', 1)"))
        .groupBy("prev")
        .agg(F.sum("c_bg").alias("c_prev"))
    )
    # unigram stats need ALL token positions (a doc's last token is a
    # bigram suffix but never a prefix), so one token-level pass.
    # (r13 probe: deriving total from a CHECKPOINTED uni_tf — one
    # corpus explode instead of two — was measured 2-7x WORSE: the
    # RDD-backed relation loses size stats, so the vocabulary-keyed
    # scoring join flips from broadcast to sort-merge.  The second
    # explode+count pass is the cheaper trade; left as-is on evidence.)
    tokens = df.select(F.explode(F.expr(toks)).alias("tok"))
    uni_tf = tokens.groupBy("tok").agg(F.count(F.lit(1)).alias("c_uni"))
    total = tokens.agg(F.count(F.lit(1)).alias("_t"))
    s = BIGRAM_PROB_SCALE
    scored = (
        pairs.join(bg_tf, "bg")
        .withColumn("prev", F.expr("split_part(bg, ' ', 1)"))
        .withColumn("curr", F.expr("split_part(bg, ' ', 2)"))
        .join(prev_tf, "prev")
        .join(uni_tf, F.col("curr") == F.col("tok"))
        .crossJoin(F.broadcast(total))
        .withColumn("s_bg", F.expr(f"(c_bg * CAST({s} AS BIGINT)) div c_prev"))
        .withColumn("s_uni", F.expr(f"(c_uni * CAST({s} AS BIGINT)) div _t"))
        .withColumn(
            "s_interp",
            F.expr(
                f"({int(lam_num)} * s_bg + {int(lam_den - lam_num)} * s_uni) "
                f"div {int(lam_den)}"
            ),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("s_interp").alias("sum_interp_scaled"),
        F.sum("s_bg").alias("sum_bigram_scaled"),
        F.sum("s_uni").alias("sum_unigram_scaled"),
    )


# BM25 fixed-point scales (the interpolated_lm_score / DSIR discipline:
# integer floor-divisions + INT64 sums, no float summation order).
BM25_IDF_SCALE = 10_000
BM25_TF_SCALE = 1_000_000


def bm25_topk(
    df: DataFrame,
    query_terms: dict[str, tuple[str, ...]],
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 retrieval over the corpus — top-k documents per query, the
    ranking function behind the lexical half of every
    training-data-curation retrieval stage (hard-negative mining,
    eval-set decontamination lookups, targeted corpus slicing).

    Robertson/Okapi BM25 with k1 = 5/4, b = 3/4, and the idf shifted
    by +1 (the Lucene convention, keeps every term non-negative):

        idf(t)        = (N - df + 1/2)/(df + 1/2) + 1
                      = (2N + 2)/(2df + 1)              (exact integers)
        tfnorm(t, d)  = tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))
                      = 36·T·tf / (16·T·tf + 5·T + 15·dl·N)
                        (multiplying through by 16·T, avgdl = T/N)

    idf is kept RATIONAL (no libm log — tfidf_topk's bit-parity trade;
    log is monotone per term and BM25's sum of shifted-rational idf
    terms preserves the published ranking on this corpus) and the
    whole score sits on the scaled-int grid:

        idf_scaled    = (10^4 · (2N+2))   div (2df+1)
        tfnorm_scaled = (10^6 · 36·T·tf)  div (16·T·tf + 5·T + 15·dl·N)
        term_scaled   = (idf_scaled · tfnorm_scaled) div 10^4
        score_scaled  = Σ_{t ∈ q ∩ d} term_scaled     (INT64 sum)

    so the per-(query, doc) sum is an integer aggregation with no
    float addition order anywhere — bit-exact in the DuckDB oracle.
    Headroom: 10^6·36·T·tf < 2^63 up to T·tf ≈ 2.5e11 (a 10^9-token
    corpus with tf ≤ 250); idf_scaled·tfnorm_scaled ≤
    10^4·(2N+2) · 2.25e6 < 2^63 up to N ≈ 4e7 docs — raise the split
    point (not the product) beyond that.

    Scale shape: tf, dl, df, and the corpus totals are token- or
    doc-keyed aggregations, each map-side combinable; physically they
    are four scan branches of one corpus pass each (Spark shares no
    common subexpressions across branches — measured 25× slope 0.10,
    fixed cost dominating, so the extra scans are not the bottleneck;
    a production deployment stores tf as the inverted index and feeds
    the other three from it).  N/T ride a 1-row broadcast.  The
    query-term table is a constant literal (a few rows) joined on the
    token key, so only matching postings survive the scan side; the
    final top-k is a row_number window partitioned by query_id —
    key-parallel, no global sort.  A document missing a query term
    simply contributes no posting row (term score 0), the
    inverted-index convention."""
    from pyspark.sql import Window

    spark = df.sparkSession
    qrows = [
        (qid, t) for qid, terms in sorted(query_terms.items()) for t in terms
    ]
    queries = spark.createDataFrame(qrows, "query_id string, token string")

    toks = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("token")
    )
    tf = toks.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    dl = tf.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df_docs"))
    corpus = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_tokens")
    )

    postings = (
        tf.join(F.broadcast(queries), "token")
        .join(dfreq, "token")
        .join(dl, id_col)
        .crossJoin(F.broadcast(corpus))
        .withColumn(
            "idf_scaled",
            F.expr(
                f"(CAST({BM25_IDF_SCALE} AS BIGINT) * (2 * n_docs + 2))"
                " div (2 * df_docs + 1)"
            ),
        )
        .withColumn(
            "tfnorm_scaled",
            F.expr(
                f"(CAST({BM25_TF_SCALE} AS BIGINT) * 36 * total_tokens * tf)"
                " div (16 * total_tokens * tf + 5 * total_tokens + 15 * dl * n_docs)"
            ),
        )
        .withColumn(
            "term_scaled",
            F.expr(f"(idf_scaled * tfnorm_scaled) div {BM25_IDF_SCALE}"),
        )
    )
    scored = postings.groupBy("query_id", id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_terms_hit"),
        F.sum("term_scaled").alias("score_scaled"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_scaled"), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .withColumn(
            "score",
            F.col("score_scaled").cast("double") / F.lit(float(BM25_TF_SCALE)),
        )
        .select("query_id", "rank", id_col, "n_terms_hit", "score_scaled", "score")
    )


C4_BADWORDS = ("badword1", "badword2")


def with_c4_filters(
    df: DataFrame,
    badwords: tuple[str, ...] = C4_BADWORDS,
    min_words_per_line: int = 5,
    min_sentences: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """C4 cleaning rules (Raffel et al. 2020 §2.2) over multi-line
    pages — the third member of the published-filter family next to
    with_gopher_rules and the CCNet tiers:

      line level: keep a line only if it (a) ends in a terminal
        punctuation mark — period / ! / ? / end quotation mark
        (straight '"' or closing '”'), the full Raffel §2.2 set
        (ADVICE r10: the quote marks were missing), (b) has >=
        ``min_words_per_line`` words, (c) does not contain the word
        'javascript';
      page level: drop the page if it contains any bad word, the
        phrase 'lorem ipsum', or a curly bracket '{'; after line
        filtering, drop pages with fewer than ``min_sentences``
        sentences ([.!?] count of the cleaned text — a quote-terminated
        sentence still counts via the punctuation preceding its quote).

    ``badwords`` entries are bound as ESCAPED SQL literals (a single
    quote in an entry can no longer break the expression — ADVICE
    r10).  Every entry — single words and the multi-word phrases the
    UT1/LDNOOBW lists carry — matches as a token-boundary substring of
    the NORMALIZED lowered page, where normalization maps every run of
    non-alphanumeric characters (whitespace of any kind, punctuation,
    newlines) to one space (ADVICE r11: the old literal-space phrase
    check missed 'took the blue pill.' and doubled spaces/tabs/CR;
    this is C4's \\b word-boundary behavior).  So 'blue pill' matches
    'the blue pill.' and 'blue\\tpill' but not 'blue pills'.  The same
    normalization is applied to each entry, so list entries with
    stray punctuation or doubled spaces still bind correctly.  The
    explicit '[^a-z0-9]+' class (not '\\W') keeps Java and Python
    regex semantics identical for the ASCII lists this targets;
    non-ASCII letters act as separators.

    (C4's fourth page rule — three-sentence-span dedup — is the
    separate span_dedup operator; composing them is the caller's
    pipeline stage, exactly as in the paper.)

    Per-rule boolean flags + counts follow the with_gopher_rules
    auditable reject-reason convention; ``clean_md5``/``clean_len``
    value-pin the reassembled text without carrying it.

    The line filter runs INSIDE one let-bound higher-order expression
    (``transform(array(filter(...)), K -> struct(...))[0]``) so the
    split/filter work is evaluated once per row even though two
    outputs (count, joined text) consume it — the Catalyst lambda
    re-inlining trap measured in SCALE.md.  Pure Column expressions,
    no UDF, no shuffle: a free rider on the ingest scan at 100 TB."""
    terminal = "right(l, 1) IN ('.', '!', '?', '\"', '”')"
    line_keep = (
        f"l -> {terminal} AND size(split(l, ' ')) >= {int(min_words_per_line)} "
        "AND NOT contains(lower(l), 'javascript')"
    )
    esc = lambda s: s.replace("'", "''")
    # One normalized page per row, MATERIALIZED once as a column
    # (ADVICE r12: the previous form textually duplicated the full
    # regexp_replace subtree inside every entry's contains() — with
    # UT1/LDNOOBW-scale lists (hundreds-thousands of entries) that
    # risks Catalyst analysis slowdown and the 64 KB whole-stage-
    # codegen fallback).  Single-token entries collapse into ONE
    # exists/IN membership pass over the split page; only multi-word
    # phrases keep a per-entry contains().
    norm_entries = [
        _re.sub(r"[^a-z0-9]+", " ", b.lower()).strip() for b in badwords
    ]
    norm_entries = [b for b in norm_entries if b]
    singles = sorted({b for b in norm_entries if " " not in b})
    phrases = sorted({b for b in norm_entries if " " in b})
    bad_parts = []
    if singles:
        in_list = ", ".join(f"'{esc(s)}'" for s in singles)
        bad_parts.append(
            f"exists(split(trim(_bw_norm), ' '), t -> t IN ({in_list}))"
        )
    bad_parts.extend(f"contains(_bw_norm, ' {esc(p)} ')" for p in phrases)
    bad_expr = " OR ".join(bad_parts) if bad_parts else "false"
    kept = (
        f"transform(array(filter(split({text_col}, '\\n'), {line_keep})), "
        "K -> struct(size(K) AS n_kept_lines, "
        "array_join(K, '\\n') AS clean_text))[0]"
    )
    out = df.withColumn(
        "_bw_norm",
        F.expr(
            f"concat(' ', regexp_replace(lower({text_col}), "
            "'[^a-z0-9]+', ' '), ' ')"
        ),
    ).withColumn("_k", F.expr(kept)).select(
        "*",
        F.expr(f"size(split({text_col}, '\\n'))").cast("long").alias("n_lines"),
        F.col("_k.n_kept_lines").cast("long").alias("n_kept_lines"),
        F.expr("size(split(_k.clean_text, '[.!?]')) - 1")
        .cast("long")
        .alias("n_sentences"),
        F.expr(bad_expr).alias("has_badword"),
        F.expr(f"contains(lower({text_col}), 'lorem ipsum')").alias("has_lorem"),
        F.expr(f"contains({text_col}, '{{')").alias("has_brace"),
        F.length("_k.clean_text").cast("long").alias("clean_len"),
        F.md5(F.col("_k.clean_text")).alias("clean_md5"),
    )
    return out.withColumn(
        "keep",
        (~F.col("has_badword"))
        & (~F.col("has_lorem"))
        & (~F.col("has_brace"))
        & (F.col("n_sentences") >= F.lit(int(min_sentences))),
    ).drop("_k", "_bw_norm")


def with_lang_confidence(
    df: DataFrame, margin_threshold: int = 2, text_col: str = "text"
) -> DataFrame:
    """Language ID with a CONFIDENCE gate — the rule CCNet-class
    pipelines actually apply: a predicted language only sticks when
    the classifier is sure, otherwise the doc is tagged 'und'
    (undetermined) and either dropped or routed to a heavier model.
    On the hit-count heuristic, confidence is the INT margin between
    the best and second-best profile scores (top1 − top2), with the
    extra guard top1 > 0 (an all-miss doc has no evidence at all, even
    though its margin is 0 ≥ 0 ... > threshold edge).

    Adds: ``margin``, ``is_confident`` (margin ≥ threshold AND
    top1 > 0), ``effective_lang`` (predicted or 'und').  All-integer
    comparisons — no float threshold ambiguity.  Pure Column algebra
    over with_lang_id's scores; still zero shuffle."""
    out = with_lang_id(df, text_col)
    langs = list(LANG_PROFILES)
    arr = "array_sort(array(" + ", ".join(f"score_{l}" for l in langs) + "))"
    out = (
        out.withColumn("_sorted", F.expr(arr))
        .withColumn(
            "margin",
            (F.expr("element_at(_sorted, -1)") - F.expr("element_at(_sorted, -2)"))
            .cast("long"),
        )
        .withColumn(
            "is_confident",
            (F.col("margin") >= F.lit(int(margin_threshold)))
            & (F.expr("element_at(_sorted, -1)") > 0),
        )
        .drop("_sorted")
    )
    return out.withColumn(
        "effective_lang",
        F.when(F.col("is_confident"), F.col("predicted_lang")).otherwise(
            F.lit("und")
        ),
    )
