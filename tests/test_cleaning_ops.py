"""Training-data cleaning extensions: PII redaction, vocabulary /
tf-idf diagnostics, span-level dedup, and mixture sampling contracts on
hand-built corpora (the registry oracle replay covers the sf-dir
parity; these pin the operator semantics on adversarial micro-cases).
"""

import math

from pyspark.sql import functions as F

from firewatch_spark.operators import dedup, sampling, text
from tests.conftest import rows


def test_pii_redaction_counts_and_order(spark):
    df = spark.createDataFrame(
        [
            (1, "mail a.b+c@ex-corp.io from 10.0.0.1 call 555-1234 done"),
            (2, "no pii here at all"),
            (3, "two mails x@y.org and z@w.co plus 192.168.1.1"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in rows(text.with_pii_redacted(df))}
    assert (out[1]["n_emails"], out[1]["n_ips"], out[1]["n_phones"]) == (1, 1, 1)
    assert out[1]["redacted"] == "mail <EMAIL> from <IP> call <PHONE> done"
    assert (out[2]["n_emails"], out[2]["n_ips"], out[2]["n_phones"]) == (0, 0, 0)
    assert out[2]["redacted"] == "no pii here at all"
    assert (out[3]["n_emails"], out[3]["n_ips"]) == (2, 1)
    assert out[3]["redacted"] == "two mails <EMAIL> and <EMAIL> plus <IP>"


def test_pii_email_redacts_before_narrower_patterns(spark):
    # digits inside an email's local/domain must be eaten by <EMAIL>,
    # not left behind as phone/IP fragments — the PII_PATTERNS order
    df = spark.createDataFrame(
        [(1, "user 555-1234@example.com wrote")], "doc_id long, text string"
    )
    r = rows(text.with_pii_redacted(df))[0]
    assert r["redacted"] == "user <EMAIL> wrote"
    assert r["n_emails"] == 1


def test_vocab_topk_counts_and_rank_tiebreak(spark):
    df = spark.createDataFrame(
        [(1, "b a a c"), (2, "a b c c")], "doc_id long, text string"
    )
    out = rows(text.vocab_topk(df, k=2), "rank")
    # a: tf 3 df 2; c: tf 3 df 2; b: tf 2 df 2 → top-2 is a then c
    # (tf desc, token asc tie-break)
    assert [(r["token"], r["tf_corpus"], r["df_docs"], r["rank"]) for r in out] == [
        ("a", 3, 2, 1),
        ("c", 3, 2, 2),
    ]


def test_tfidf_topk_matches_python_reference(spark):
    corpus = {
        1: "spark query engine spark",
        2: "query planner rules",
        3: "engine room crew crew",
    }
    df = spark.createDataFrame(
        list(corpus.items()), "doc_id long, text string"
    )
    out = rows(text.tfidf_topk(df, k=2), "doc_id", "rank")

    # independent reference
    toks = {d: t.split(" ") for d, t in corpus.items()}
    n_docs = len(corpus)
    dfreq = {}
    for ts in toks.values():
        for t in set(ts):
            dfreq[t] = dfreq.get(t, 0) + 1
    expect = []
    for d, ts in toks.items():
        scored = []
        for t in sorted(set(ts)):
            tf = ts.count(t)
            score = (tf / len(ts)) * ((n_docs + 1.0) / (dfreq[t] + 1.0))
            scored.append((t, tf, score))
        scored.sort(key=lambda x: (-x[2], x[0]))
        for rank, (t, tf, score) in enumerate(scored[:2], 1):
            expect.append((d, t, tf, dfreq[t], score, rank))
    got = [
        (r["doc_id"], r["token"], r["tf"], r["df_docs"], r["tfidf"], r["rank"])
        for r in out
    ]
    assert len(got) == len(expect)
    for g, e in zip(got, expect):
        assert g[:4] == e[:4] and g[5] == e[5]
        assert math.isclose(g[4], e[4], rel_tol=1e-12)


def test_span_dedup_keeps_first_occurrence_globally(spark):
    # spans of 3 tokens; "x y z" repeats across docs and within doc 2
    df = spark.createDataFrame(
        [
            (1, "x y z a b c"),
            (2, "x y z x y z"),
            (3, "x y z"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in rows(dedup.span_dedup(df, span_tokens=3))}
    assert (out[1]["n_spans"], out[1]["n_kept"]) == (2, 2)
    assert out[1]["clean_text"] == "x y z a b c"
    # doc 2: both spans are "x y z", both repeats of doc 1's
    assert (out[2]["n_spans"], out[2]["n_kept"]) == (2, 0)
    assert out[2]["clean_text"] == ""
    assert (out[3]["n_spans"], out[3]["n_kept"]) == (1, 0)


def test_span_dedup_reassembles_in_span_order(spark):
    # doc 2 loses its MIDDLE span only; the outer spans re-join in order
    df = spark.createDataFrame(
        [(1, "d e f"), (2, "a b c d e f g h i")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in rows(dedup.span_dedup(df, span_tokens=3))}
    assert out[2]["clean_text"] == "a b c g h i"
    assert (out[2]["n_spans"], out[2]["n_kept"]) == (3, 2)


def test_stratified_sample_deterministic_and_stratum_scoped(spark):
    df = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("zh").alias("lang"),
    )
    rates = {"en": 0.5, "zh": 0.1}
    a = rows(sampling.stratified_sample(df, rates, strata_col="lang"), "doc_id")
    b = rows(sampling.stratified_sample(df, rates, strata_col="lang"), "doc_id")
    assert a == b  # content-stable, no RNG
    kept = {"en": 0, "zh": 0}
    for r in a:
        kept[r["lang"]] += 1
    # 1000 per stratum; md5-uniform keeps ≈ rate ± a few percent
    assert 400 <= kept["en"] <= 600
    assert 40 <= kept["zh"] <= 160
    # unknown stratum with default 0.0 drops everything
    c = sampling.stratified_sample(
        df.withColumn("lang", F.lit("xx")), rates, strata_col="lang"
    )
    assert c.count() == 0


def test_rebalance_groups_equalizes_to_smallest(spark):
    df = spark.range(1300).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 1000, "en")
        .when(F.col("id") < 1200, "de")
        .otherwise("fr")
        .alias("lang"),
    )
    out = rows(sampling.rebalance_groups(df, strata_col="lang"), "doc_id")
    kept = {}
    for r in out:
        kept[r["lang"]] = kept.get(r["lang"], 0) + 1
    # smallest group (fr, 100) keeps everything: rate = 1.0 exactly
    assert kept["fr"] == 100
    # the others land near 100 in expectation (md5-uniform draw)
    assert 70 <= kept["en"] <= 130
    assert 70 <= kept["de"] <= 130
    # deterministic
    again = rows(sampling.rebalance_groups(df, strata_col="lang"), "doc_id")
    assert out == again


def test_cluster_representatives_prefers_quality(spark):
    # two near-identical docs: doc 2 is longer → higher quality score →
    # becomes the representative even though doc 1 has the smaller id
    base = "the quick brown fox jumps over the lazy dog " * 3
    df = spark.createDataFrame(
        [(1, base.strip()), (2, (base * 2).strip()), (3, "unrelated totally different words")],
        "doc_id long, text string",
    )
    pairs = dedup.lsh_candidate_pairs(df)
    clusters = dedup.near_dup_clusters(pairs, df)
    quality = text.with_token_stats(df).select("doc_id", "quality_score")
    joined = clusters.join(quality, "doc_id")
    from pyspark.sql import Window

    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("quality_score"), F.asc("doc_id")
    )
    reps = {
        r["cluster_id"]: r["doc_id"]
        for r in rows(
            joined.withColumn("rn", F.row_number().over(w)).filter("rn = 1")
        )
    }
    assert reps[1] == 2  # cluster labeled by min id 1; best-quality rep is 2
    assert reps[3] == 3


def _lineage_cut_results(spark) -> dict:
    """Three operators that cut their lineage every round (label
    propagation, Lloyd's iterations, BPE induction and its per-round
    argmax table), as sorted JSON-ready rows."""
    import random

    from firewatch_spark.operators import similarity

    def collect(df, *cols):
        return sorted([r[c] for c in cols] for r in df.collect())

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (8, 9), (9, 10), (10, 11)],
        "doc_a long, doc_b long",
    )
    docs = spark.createDataFrame([(i,) for i in range(1, 13)], "doc_id long")
    rng = random.Random(7)
    emb = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(24)],
        "vec_id long, embedding array<float>",
    )
    corpus = spark.createDataFrame(
        [(1, "a b a b c d"), (2, "a b e f a b")], "doc_id long, text string"
    )
    bpe = text.bpe_vocab_induction(
        corpus, vocab_target=10_000, min_freq=1, max_rounds=3
    )
    return {
        "clusters": collect(
            dedup.near_dup_clusters(pairs, docs), "doc_id", "cluster_id"
        ),
        "centroids": collect(
            similarity.ivf_train(emb, k=4, iters=2), "centroid_id", "civ"
        ),
        "bpe": collect(bpe, "doc_id", "n_merges", "new_text"),
    }


# A fresh session whose SparkContext starts with spark.checkpoint.dir
# set (from PYSPARK_SUBMIT_ARGS); any local checkpoint on the path raises.
_RELIABLE_SESSION = """
import json
from pyspark.sql import SparkSession
from pyspark.sql.classic.dataframe import DataFrame
from tests.test_cleaning_ops import _lineage_cut_results

def no_local_cut(*_, **__):
    raise AssertionError("localCheckpoint with a checkpoint dir set")

DataFrame.localCheckpoint = no_local_cut
spark = SparkSession.builder.master("local[2]").getOrCreate()
print(json.dumps(_lineage_cut_results(spark)))
spark.stop()
"""


def test_reliable_checkpoint_matches_local_for_clusters_and_ivf(spark, tmp_path):
    """With ``spark.checkpoint.dir`` set at launch every lineage cut,
    including those inside the called operators, is a reliable
    checkpoint, and the results equal the shared session's local-
    checkpoint run.  The blocks land in the dir, and the shared
    session never acquires a checkpoint dir."""
    import json
    import os
    import subprocess
    import sys
    from pathlib import Path

    root = str(Path(__file__).resolve().parents[1])
    ck_dir = tmp_path / "ck"
    env = dict(
        os.environ,
        PYSPARK_SUBMIT_ARGS=f"--conf spark.checkpoint.dir={ck_dir} pyspark-shell",
        PYTHONPATH=root,
    )
    proc = subprocess.run(
        [sys.executable, "-c", _RELIABLE_SESSION],
        cwd=root, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    reliable = json.loads(proc.stdout.strip().splitlines()[-1])
    assert reliable == json.loads(json.dumps(_lineage_cut_results(spark)))
    assert any(p.is_file() for p in ck_dir.rglob("rdd-*/*")), "no blocks written"
    assert spark.sparkContext.getCheckpointDir() is None


def test_quality_classifier_matches_python_reference(spark):
    """Hashing-trick weights, exact feature sum, sign-exact keep —
    pinned against an independent Python mirror (md5 nibble decode
    included)."""
    import hashlib

    HEX = "0123456789abcdef"

    def w(tk: str) -> int:
        return HEX.index(hashlib.md5(f"qw|{tk}".encode()).hexdigest()[0]) + 1 - 8

    docs = [
        (1, "a b c"),
        (2, "zzz"),
        (3, "the quick brown fox jumps"),
        (4, "x' quote \\ backslash"),
    ]
    expect = {}
    for d, t in docs:
        toks = t.split(" ")
        s = sum(w(tk) for tk in toks)
        expect[d] = (len(toks), s, s / len(toks), s > 0)
    got = {
        r["doc_id"]: (r["n_tokens"], r["feat_sum"], r["lin_score"], r["keep"])
        for r in text.with_quality_classifier(
            spark.createDataFrame(docs, ["doc_id", "text"])
        ).collect()
    }
    assert got == expect


def test_normalized_text_whitespace_and_case_variants_collide(spark):
    """Whitespace-only variants must normalize IDENTICALLY (newline →
    space, not deletion — deleting would glue words and falsely collide
    with genuinely-joined text, round-6 review), and case/punctuation
    variants collapse too."""
    df = spark.createDataFrame(
        [
            (1, "foo bar"),
            (2, "foo\nbar"),
            (3, "Foo,  bar!"),
            (4, "foobar"),
            (5, "foo\tbar\r"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["norm_text"] for r in text.with_normalized_text(df).collect()}
    assert out[1] == out[2] == out[3] == out[5] == "foo bar"
    assert out[4] == "foobar" and out[4] != out[1]


def test_audio_chunks_byte_accurate_on_non_ascii(spark):
    """The audio path decodes the UTF-8 BYTES of the payload — a
    non-ASCII char ('é' = 0xC3 0xA9) contributes two bytes, not one
    codepoint (round-6 review: the oracle now reads hex(encode(text))
    for the same reason).  Pinned against a Python byte reference."""
    import numpy as np

    from firewatch_spark.sources.multimodal import audio_chunks

    texts = {1: "abcé", 2: "é", 3: "x"}
    df = spark.createDataFrame(
        [(i, t.encode()) for i, t in texts.items()],
        "media_id long, payload binary",
    )
    got = {
        (r["media_id"], r["chunk_idx"]): (
            r["n_samples"], r["sum_sq"], r["byte_len"]
        )
        for r in audio_chunks(df, chunk_samples=2).collect()
    }
    expect = {}
    for i, t in texts.items():
        b = t.encode()
        n_total = len(b) // 2
        samples = np.frombuffer(b[: n_total * 2], dtype="<i2").astype(np.int64)
        for ci in range(0, (n_total + 1) // 2):
            seg = samples[ci * 2 : ci * 2 + 2]
            if len(seg):
                expect[(i, ci)] = (len(seg), int((seg * seg).sum()), len(seg) * 2)
    assert got == expect
    # 'x' (1 byte) yields no sample rows at all
    assert not [k for k in got if k[0] == 3]


def _py_winnow(text: str, k: int, w: int):
    """Independent Python mirror: rightmost-minimal per window."""
    import hashlib

    toks = text.split(" ")
    if len(toks) >= k:
        sh = [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
    else:
        sh = [" ".join(toks)]
    hs = [hashlib.md5(s.encode()).hexdigest() for s in sh]
    sel = set()
    n_win = max(1, len(hs) - w + 1)
    for i in range(n_win):
        window = hs[i : i + w]
        m = min(window)
        # rightmost occurrence of the minimal hash
        j = max(idx for idx, h in enumerate(window) if h == m)
        sel.add((i + j + 1, m))  # 1-based position
    return sel


def test_winnowing_matches_python_reference_and_moss_guarantee(spark):
    """Selection must equal the sequential rightmost-minimal reference,
    and the MOSS guarantee must hold: two docs sharing a run of
    >= w + k - 1 tokens share at least one selected fingerprint."""
    k, w = 4, 5
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 = w+k-1
    docs = [
        (1, "one two " + shared + " three"),
        (2, shared + " nine ten eleven twelve"),
        (3, "a b c"),  # shorter than k -> one whole-text shingle
        (4, "x " * 3 + "x"),  # repeated tokens: hash ties exercise rightmost rule
    ]
    from firewatch_spark.operators import text as text_ops

    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {}
    for r in text_ops.with_winnowing_fingerprints(df, k=k, w=w).collect():
        got.setdefault(r["doc_id"], set()).add((r["pos"], r["fp"]))
    for d, t in docs:
        assert got[d] == _py_winnow(t, k, w), d
    # MOSS guarantee: docs 1 and 2 share a fingerprint (positions differ)
    assert {fp for _, fp in got[1]} & {fp for _, fp in got[2]}


def test_cdc_chunks_are_insertion_robust(spark):
    """The point of content-defined chunking: inserting a token reshapes
    only the chunk it lands in — every chunk whose text lies entirely
    after the insertion keeps its exact content md5 (fixed-offset spans
    would shift EVERY downstream boundary)."""
    import random

    rng = random.Random(23)
    vocab = [f"w{i}" for i in range(40)]
    base = [rng.choice(vocab) for _ in range(240)]
    ins = base[:117] + ["INSERTED"] + base[117:]
    df = spark.createDataFrame(
        [(1, " ".join(base)), (2, " ".join(ins))], ["doc_id", "text"]
    )
    out = {}
    for r in dedup.cdc_chunk_dedup(df).collect():
        out.setdefault(r["doc_id"], []).append((r["chunk_idx"], r["chunk_md5"]))
    md5s = {d: [m for _, m in sorted(v)] for d, v in out.items()}
    # chunks strictly after the insertion point are IDENTICAL: the two
    # docs' chunk md5 sequences share a common suffix of length >= 1
    # and (being ~16-token chunks over a 240-token doc) most of the
    # tail survives — require at least half the base doc's chunks
    suffix = 0
    for a, b in zip(reversed(md5s[1]), reversed(md5s[2])):
        if a != b:
            break
        suffix += 1
    assert suffix >= len(md5s[1]) // 2, (suffix, len(md5s[1]))
    # and the prefix BEFORE the insertion is untouched too
    prefix = 0
    for a, b in zip(md5s[1], md5s[2]):
        if a != b:
            break
        prefix += 1
    assert prefix >= 1
    # sanity: per-doc chunks reassemble the doc (token counts add up)
    n1 = sum(r["n_tokens"] for r in dedup.cdc_chunk_dedup(df).collect() if r["doc_id"] == 1)
    assert n1 == 240


def test_gopher_rules_flags_and_verdict(spark):
    """Each rule trips on the doc crafted to violate exactly it; the
    clean doc passes everything; n_failed counts the trips."""
    good = " ".join((["the", "a"] + [f"word{i}" for i in range(8)]) * 5)  # 50 toks, stopwords, varied
    short = "the a word1 word2 word3"  # 5 tokens -> r_word_count fails
    no_stop = " ".join(f"word{i}" for i in range(60))  # no stopwords
    stuffed = "the a " + " ".join(["spam"] * 60)  # run of 60 + top-bigram heavy
    symbols = "the a " + " ".join(["w#" + str(i) for i in range(60)])  # 60 '#' / 62 toks
    df = spark.createDataFrame(
        [
            (1, good),
            (2, short),
            (3, no_stop),
            (4, stuffed),
            (5, symbols),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in text.with_gopher_rules(df).collect()}
    assert out[1]["keep"] and out[1]["n_failed"] == 0
    assert not out[2]["r_word_count"] and not out[2]["keep"]
    assert not out[3]["r_stopwords"] and out[3]["r_word_count"]
    assert not out[4]["r_max_run"] and not out[4]["r_top_bigram"]
    assert out[4]["n_failed"] >= 2
    assert not out[5]["r_symbol_ratio"]
    # mean-word-length band: single-char words avg < 3
    tiny = spark.createDataFrame(
        [(9, "the a " + " ".join(["x"] * 60))], ["doc_id", "text"]
    )
    t = text.with_gopher_rules(tiny).collect()[0]
    assert not t["r_mean_word_len"]


def test_cms_overestimates_and_merges(spark):
    """CMS invariants: est >= exact for every token (count-min can
    only overcount), and the sketch is MERGEABLE — sketching two
    halves of the corpus and summing (salt, pos) buckets equals
    sketching the whole corpus (the property that makes it the
    multi-shard/streaming counter)."""
    docs = [(i, " ".join(f"w{j % 7}" for j in range(i, i + 20))) for i in range(10)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    cms = text.token_cms(df)
    toks = (
        df.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .count()
    )
    est = {r["tok"]: r["est_cnt"] for r in text.cms_estimate(cms, toks.select("tok")).collect()}
    exact = {r["tok"]: r["count"] for r in toks.collect()}
    assert set(est) == set(exact)
    for tok, c in exact.items():
        assert est[tok] >= c, (tok, est[tok], c)
    # mergeability
    half_a = df.filter(F.col("doc_id") < 5)
    half_b = df.filter(F.col("doc_id") >= 5)
    merged = (
        text.token_cms(half_a)
        .unionByName(text.token_cms(half_b))
        .groupBy("salt", "pos")
        .agg(F.sum("cnt").alias("cnt"))
    )
    whole = {(r["salt"], r["pos"]): r["cnt"] for r in cms.collect()}
    got = {(r["salt"], r["pos"]): r["cnt"] for r in merged.collect()}
    assert got == whole


def test_hll_sketch_merges_and_is_duplicate_insensitive(spark):
    """HLL invariants: (1) sketching two corpus halves and merging by
    (grp, bucket) MAX equals sketching the whole corpus; (2) token
    MULTIPLICITY never changes the sketch (cardinality only) — so the
    estimate of a corpus and its 3x-repeated copy are identical."""
    docs = [(i, "g", " ".join(f"w{j % 13}" for j in range(i, i + 9))) for i in range(8)]
    df = spark.createDataFrame(docs, ["doc_id", "grp", "text"])
    whole = {
        (r["grp"], r["bucket"]): r["max_rho"]
        for r in text.token_hll_sketch(df, "grp").collect()
    }
    merged_df = (
        text.token_hll_sketch(df.filter(F.col("doc_id") < 4), "grp")
        .unionByName(text.token_hll_sketch(df.filter(F.col("doc_id") >= 4), "grp"))
        .groupBy("grp", "bucket")
        .agg(F.max("max_rho").alias("max_rho"))
    )
    merged = {(r["grp"], r["bucket"]): r["max_rho"] for r in merged_df.collect()}
    assert merged == whole
    tripled = df.withColumn("text", F.concat_ws(" ", "text", "text", "text"))
    trip = {
        (r["grp"], r["bucket"]): r["max_rho"]
        for r in text.token_hll_sketch(tripled, "grp").collect()
    }
    assert trip == whole


def test_length_histogram_merges_and_quantile_bounds(spark):
    """Histogram-sketch invariants: half-corpus sketches merge by
    (grp, bin) sum to the whole-corpus sketch, and the quantile
    estimate is always >= the exact quantile and within one bin width
    of it (the resolution guarantee)."""
    import random

    rng = random.Random(3)
    data = [
        (i, "g", " ".join("w" for _ in range(rng.randint(1, 100))))
        for i in range(50)
    ]
    df = spark.createDataFrame(data, ["doc_id", "grp", "text"])
    whole = {
        (r["grp"], r["bin"]): r["cnt"]
        for r in text.length_histogram(df, "grp").collect()
    }
    merged_df = (
        text.length_histogram(df.filter(F.col("doc_id") < 25), "grp")
        .unionByName(text.length_histogram(df.filter(F.col("doc_id") >= 25), "grp"))
        .groupBy("grp", "bin")
        .agg(F.sum("cnt").alias("cnt"))
    )
    merged = {(r["grp"], r["bin"]): r["cnt"] for r in merged_df.collect()}
    assert merged == whole

    hist = text.length_histogram(df, "grp")
    lengths = sorted(len(t.split(" ")) for _, _, t in data)
    for q_num, q_den in ((1, 2), (9, 10)):
        est = text.histogram_quantile(hist, q_num, q_den).collect()[0]["est"]
        thr = (q_num * len(lengths) + q_den - 1) // q_den
        exact = lengths[thr - 1]
        assert exact <= est <= exact + text.HIST_BIN_WIDTH, (q_num, est, exact)


def test_boilerplate_line_removal_rules(spark):
    """RefinedWeb-style corpus-frequency line removal: a line in >=
    min_doc_freq DISTINCT docs is cut everywhere (repeats within one
    doc don't count toward the threshold), survivors keep their order,
    and a fully-boilerplate doc keeps a row with empty text."""
    from firewatch_spark.operators import text as T

    docs = spark.createDataFrame(
        [
            (1, "Cookie banner\ncontent one\nfooter one"),
            (2, "Cookie banner\ncontent two"),
            (3, "Cookie banner\ncontent three"),
            # within-doc repetition: 'only here' twice in ONE doc stays
            (4, "only here\nonly here\ncontent four"),
            (5, "Cookie banner"),  # all lines removed
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in T.boilerplate_line_removal(docs, min_doc_freq=3).collect()
    }
    assert out[1]["clean_text"] == "content one\nfooter one"
    assert (out[1]["n_lines"], out[1]["n_removed"]) == (3, 1)
    assert out[4]["clean_text"] == "only here\nonly here\ncontent four"
    assert out[4]["n_removed"] == 0
    assert out[5]["clean_text"] == "" and out[5]["n_removed"] == 1


def test_bigram_lm_score_matches_python_reference(spark):
    """Bigram MLE contract against a hand-rolled reference: scaled
    conditional = (c_bigram * 1e6) // c_prefix with the prefix count
    excluding each doc's last token; docs with < 2 tokens get no row."""
    from collections import Counter

    from firewatch_spark.operators import text as T

    corpus = {
        1: "the cat sat on the mat",
        2: "the cat ran",
        3: "dogs bark",
        4: "single",
    }
    docs = spark.createDataFrame(list(corpus.items()), "doc_id long, text string")
    out = {r["doc_id"]: r for r in T.bigram_lm_score(docs).collect()}

    bg = Counter()
    for t in corpus.values():
        w = t.split(" ")
        bg.update(zip(w, w[1:]))
    prev = Counter()
    for (a, _), c in bg.items():
        prev[a] += c
    for did, t in corpus.items():
        w = t.split(" ")
        pairs = list(zip(w, w[1:]))
        if not pairs:
            assert did not in out
            continue
        r = out[did]
        assert r["n_bigrams"] == len(pairs)
        assert r["sum_cond_scaled"] == sum(
            bg[p] * 1_000_000 // prev[p[0]] for p in pairs
        )
        assert r["min_bigram_tf"] == min(bg[p] for p in pairs)
        assert r["n_novel_bigrams"] == sum(1 for p in pairs if bg[p] == 1)


def test_interpolated_lm_score_matches_python_reference(spark):
    """JM backoff contract against a hand-rolled reference: per
    transition s_interp = (7*s_bg + 3*s_uni) // 10 on the 1e6 grid,
    with s_uni the CURRENT token's corpus probability over ALL
    positions; a corpus-novel transition still scores > 0 when its
    target token is common."""
    from collections import Counter

    from firewatch_spark.operators import text as T

    corpus = {
        1: "the cat sat on the mat",
        2: "the cat ran",
        3: "dogs bark",
        4: "single",
        5: "mat the",  # novel transition between two COMMON tokens
    }
    docs = spark.createDataFrame(list(corpus.items()), "doc_id long, text string")
    out = {r["doc_id"]: r for r in T.interpolated_lm_score(docs).collect()}

    bg, uni = Counter(), Counter()
    for t in corpus.values():
        w = t.split(" ")
        bg.update(zip(w, w[1:]))
        uni.update(w)
    prev = Counter()
    for (a, _), c in bg.items():
        prev[a] += c
    total = sum(uni.values())
    for did, t in corpus.items():
        w = t.split(" ")
        pairs = list(zip(w, w[1:]))
        if not pairs:
            assert did not in out
            continue
        r = out[did]
        s_bg = [bg[p] * 1_000_000 // prev[p[0]] for p in pairs]
        s_uni = [uni[p[1]] * 1_000_000 // total for p in pairs]
        assert r["n_bigrams"] == len(pairs)
        assert r["sum_bigram_scaled"] == sum(s_bg)
        assert r["sum_unigram_scaled"] == sum(s_uni)
        assert r["sum_interp_scaled"] == sum(
            (7 * b + 3 * u) // 10 for b, u in zip(s_bg, s_uni)
        )
    # the backoff property itself: doc 5's transition is corpus-novel
    # (c_bg = 1 over c_prev) yet its unigram term keeps the score well
    # above the bigram term alone
    assert out[5]["sum_interp_scaled"] > out[5]["sum_bigram_scaled"] * 7 // 10


def test_bm25_topk_matches_python_reference(spark):
    corpus = {
        1: "spark query engine spark spark",
        2: "query planner rules",
        3: "engine room crew crew crew crew crew crew",
        4: "spark rules",
    }
    queries = {"qa": ("spark", "rules"), "qb": ("crew",)}
    df = spark.createDataFrame(
        list(corpus.items()), "doc_id long, text string"
    )
    out = rows(text.bm25_topk(df, queries, k=3), "query_id", "rank")

    # independent reference of the scaled-int math
    toks = {d: t.split(" ") for d, t in corpus.items()}
    n_docs = len(corpus)
    total = sum(len(ts) for ts in toks.values())
    dfreq = {}
    for ts in toks.values():
        for t in set(ts):
            dfreq[t] = dfreq.get(t, 0) + 1
    expect = []
    for qid, terms in sorted(queries.items()):
        scored = []
        for d, ts in toks.items():
            s, hit = 0, 0
            for t in terms:
                tf = ts.count(t)
                if tf == 0:
                    continue
                hit += 1
                idf = (10_000 * (2 * n_docs + 2)) // (2 * dfreq[t] + 1)
                tfn = (1_000_000 * 36 * total * tf) // (
                    16 * total * tf + 5 * total + 15 * len(ts) * n_docs
                )
                s += (idf * tfn) // 10_000
            if hit:
                scored.append((d, hit, s))
        scored.sort(key=lambda x: (-x[2], x[0]))
        for rank, (d, hit, s) in enumerate(scored[:3], 1):
            expect.append((qid, rank, d, hit, s, s / 1_000_000.0))
    got = [
        (
            r["query_id"],
            r["rank"],
            r["doc_id"],
            r["n_terms_hit"],
            r["score_scaled"],
            r["score"],
        )
        for r in out
    ]
    assert got == expect
    # a doc with the rare term beats tf-heavy docs of the common term:
    # doc 3 is the only 'crew' doc and must lead qb
    assert got[[g[0] for g in got].index("qb")][2] == 3


def test_bm25_length_normalization_prefers_short_doc(spark):
    # same tf for 'spark' but doc 2 is much longer -> lower score
    df = spark.createDataFrame(
        [(1, "spark query"), (2, "spark " + " ".join(["pad"] * 30))],
        "doc_id long, text string",
    )
    out = rows(text.bm25_topk(df, {"q": ("spark",)}, k=2), "rank")
    assert [r["doc_id"] for r in out] == [1, 2]
    assert out[0]["score_scaled"] > out[1]["score_scaled"]


def test_c4_filters_line_and_page_rules(spark):
    pages = [
        # 3 good lines -> kept; one no-punct line and one short line drop
        (1, "alpha beta gamma delta epsilon.\n"
            "one two three four five six!\n"
            "seven eight nine ten eleven?\n"
            "no terminal punctuation here at all\n"
            "too short."),
        # javascript line dropped -> only 2 sentences -> page dropped
        (2, "alpha beta gamma delta epsilon.\n"
            "please enable JavaScript to view this page.\n"
            "one two three four five six!"),
        # lorem ipsum page-level drop despite 3 good lines
        (3, "alpha beta gamma delta epsilon.\n"
            "one two three four five six!\n"
            "lorem ipsum dolor sit amet consectetur?"),
        # curly brace page drop
        (4, "alpha beta gamma delta epsilon.\n"
            "config = { a: 1 } and more words.\n"
            "one two three four five six!"),
        # badword page drop
        (5, "alpha beta gamma delta epsilon.\n"
            "this line has badword1 in it today.\n"
            "one two three four five six!"),
    ]
    df = spark.createDataFrame(pages, "doc_id long, text string")
    out = {r["doc_id"]: r for r in rows(text.with_c4_filters(df), "doc_id")}

    assert out[1]["n_lines"] == 5 and out[1]["n_kept_lines"] == 3
    assert out[1]["n_sentences"] == 3 and out[1]["keep"]
    # 'too short.' fails the 5-word rule even with terminal punct
    assert out[2]["n_kept_lines"] == 2 and not out[2]["keep"]
    assert out[3]["has_lorem"] and not out[3]["keep"]
    assert out[4]["has_brace"] and not out[4]["keep"]
    assert out[5]["has_badword"] and not out[5]["keep"]
    # page-level flags do not change the kept-line reassembly
    assert out[5]["n_kept_lines"] == 3
    # clean_md5 pins the reassembled text
    import hashlib

    clean1 = "\n".join(pages[0][1].split("\n")[:3])
    assert out[1]["clean_md5"] == hashlib.md5(clean1.encode()).hexdigest()
    assert out[1]["clean_len"] == len(clean1)


def test_c4_filters_quote_terminal_and_badword_binding(spark):
    # ADVICE r10: end quotation marks are terminal punctuation in
    # Raffel §2.2; badwords bind as escaped literals and multi-word
    # phrases match on token boundaries
    pages = [
        (1, 'he said "five whole words here."\n'
            'she replied "six more words right there!"\n'
            "a closing curly quote line ends here”"),
        (2, "the blue pill arrived today in the post.\n"
            "one two three four five six!\n"
            "seven eight nine ten eleven?"),
        (3, "blue pills are not the phrase listed.\n"
            "one two three four five six!\n"
            "seven eight nine ten eleven?"),
        (4, "the o'neill word is quoted here today.\n"
            "one two three four five six!\n"
            "seven eight nine ten eleven?"),
    ]
    df = spark.createDataFrame(pages, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in rows(
            text.with_c4_filters(df, badwords=("blue pill", "o'neill")),
            "doc_id",
        )
    }
    # straight-quote and curly-quote line endings are terminal
    assert out[1]["n_kept_lines"] == 3
    # multi-word phrase hits on token boundaries only
    assert out[2]["has_badword"] and not out[2]["keep"]
    assert not out[3]["has_badword"] and out[3]["keep"]
    # an entry containing a single quote binds safely and matches
    assert out[4]["has_badword"] and not out[4]["keep"]


def test_c4_filters_empty_after_filtering(spark):
    df = spark.createDataFrame(
        [(1, "no punct line one\nno punct line two")], "doc_id long, text string"
    )
    r = rows(text.with_c4_filters(df), "doc_id")[0]
    assert r["n_kept_lines"] == 0 and r["n_sentences"] == 0
    assert r["clean_len"] == 0 and not r["keep"]


def test_lang_confidence_margin_and_und_fallback(spark):
    # en profile words dominate doc 1; doc 2 ties en/es scores (margin
    # 0); doc 3 hits no profile at all (top1 = 0)
    docs = [
        (1, "the and with that have the and"),
        (2, "the el"),
        (3, "zzz qqq xxx"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in rows(text.with_lang_confidence(df, margin_threshold=2), "doc_id")
    }
    assert out[1]["is_confident"] and out[1]["effective_lang"] == "en"
    assert out[1]["margin"] >= 2
    assert not out[2]["is_confident"] and out[2]["effective_lang"] == "und"
    # zero-evidence docs are never confident even with margin 0 >= 0
    assert not out[3]["is_confident"] and out[3]["effective_lang"] == "und"
    assert out[3]["margin"] == 0
