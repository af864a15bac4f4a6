"""Randomized parity fuzz: many generated frame sequences, one Spark
pass, checked against independent pure-Python re-implementations of the
reference loop (streams/stream.py:340-386, fire_detect_nn.py:134-153).

Complements the hand-built boundary tests: random gaps/duplicates/runs
catch off-by-ones the curated fixtures might miss.  Seeded — fully
deterministic."""

import random

from pyspark.sql import functions as F

from firewatch_spark.operators.cadence import with_gradcam_cadence, with_inference_cadence
from firewatch_spark.operators.sessions import with_session_id
from tests.conftest import rows

GAP = 30
N = 4


def _gen_sequences(seed: int, n_keys: int = 40):
    rng = random.Random(seed)
    data = []
    for k in range(n_keys):
        seq, pos = [], 0
        for _ in range(rng.randint(1, 120)):
            pos += rng.choice([1, 1, 1, 2, 5, GAP, GAP + 1, rng.randint(1, 3 * GAP)])
            seq.append(pos)
        data += [(f"k{k}", s) for s in seq]
    return data


def _py_sessions(seqs: list[int], gap: int) -> list[int]:
    """The reference's session rule (stream.py:340-349): new session
    when the jump from the last seen frame is strictly greater than gap."""
    out, sid, last = [], 0, None
    for s in seqs:
        if last is None or s - last > gap:
            sid += 1
        out.append(sid)
        last = s
    return out


def _py_cadence(seqs: list[int], n: int) -> list[bool]:
    """M6: model runs on ordinals 0, n, 2n, ... (stream.py:366-378)."""
    return [(i % n) == 0 for i in range(len(seqs))]


def _py_gradcam(flags: list[bool], n: int) -> list[bool]:
    """M5: consecutive-positive counter, reset on negative; recompute
    when (pre-increment counter) % n == 0 (fire_detect_nn.py:134-153)."""
    out, ctr = [], 0
    for hf in flags:
        if not hf:
            ctr = 0
            out.append(False)
            continue
        out.append(ctr % n == 0)
        ctr += 1
    return out


def _py_lsh_pairs(docs, num_hashes=12, bands=4, shingle_n=3, max_bucket=64):
    """Independent Python re-implementation of the FULL capped LSH
    pipeline (operators/dedup.py lsh_candidate_pairs): salted-md5
    minhash signatures → identical-sig star collapse → banding over
    reps → per-bucket lowest-id cap → pair expansion."""
    import hashlib

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()

    def shingles(text):
        toks = text.split(" ")
        if len(toks) >= shingle_n:
            return [
                " ".join(toks[i : i + shingle_n])
                for i in range(len(toks) - shingle_n + 1)
            ]
        return [" ".join(toks)]

    sigs = {
        i: [min(md5(f"{j}|{s}") for s in shingles(t)) for j in range(num_hashes)]
        for i, t in docs.items()
    }
    by_sig: dict = {}
    for i in sorted(docs):
        by_sig.setdefault(tuple(sigs[i]), []).append(i)
    pairs = {}
    reps = []
    for members in by_sig.values():
        r = min(members)
        reps.append(r)
        for m in members:
            if m != r:
                pairs[(r, m)] = num_hashes  # star edge: all hashes equal
    rows_per = num_hashes // bands
    buckets: dict = {}
    for b in range(bands):
        for r in reps:
            bh = md5("|".join(sigs[r][b * rows_per : (b + 1) * rows_per]))
            buckets.setdefault((b, bh), []).append(r)
    for members in buckets.values():
        capped = sorted(members)[:max_bucket]
        for x in range(len(capped)):
            for y in range(x + 1, len(capped)):
                a, c = capped[x], capped[y]
                n = sum(1 for j in range(num_hashes) if sigs[a][j] == sigs[c][j])
                pairs[(a, c)] = n
    return pairs


def test_capped_lsh_pairs_match_python_reference(spark):
    from firewatch_spark.operators import dedup

    rng = random.Random(23)
    vocab = [f"w{i}" for i in range(12)]
    docs: dict[int, str] = {}
    for i in range(60):
        if docs and rng.random() < 0.25:  # exact duplicate clusters
            docs[i] = docs[rng.choice(list(docs))]
        else:
            docs[i] = " ".join(rng.choice(vocab) for _ in range(rng.randint(4, 10)))
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    for cap in (3, 64):  # cap engaged / cap dormant
        got = {
            (r["doc_a"], r["doc_b"]): r["n_common_minhash"]
            for r in rows(dedup.lsh_candidate_pairs(df, max_bucket=cap))
        }
        assert got == _py_lsh_pairs(docs, max_bucket=cap), f"cap={cap}"


def test_session_ids_match_python_reference(spark):
    data = _gen_sequences(seed=7)
    df = spark.createDataFrame(data, "k string, seq long")
    got = rows(with_session_id(df, "k", "seq", gap=GAP), "k", "seq")
    by_key: dict[str, list] = {}
    for r in got:
        by_key.setdefault(r["k"], []).append(r)
    for k, rs in by_key.items():
        expected = _py_sessions([r["seq"] for r in rs], GAP)
        assert [r["session_id"] for r in rs] == expected, k


def test_cadence_locf_matches_python_reference(spark):
    data = _gen_sequences(seed=11)
    df = spark.createDataFrame(data, "k string, seq long").withColumn(
        "v", F.col("seq") * 3 % 17
    )
    got = rows(
        with_inference_cadence(df, "k", "seq", ["v"], every_n=N), "k", "seq"
    )
    by_key: dict[str, list] = {}
    for r in got:
        by_key.setdefault(r["k"], []).append(r)
    for k, rs in by_key.items():
        flags = _py_cadence([r["seq"] for r in rs], N)
        assert [r["is_inference"] for r in rs] == flags, k
        # LOCF: value equals the value at the latest inference row
        carried = None
        for r, is_inf in zip(rs, flags):
            if is_inf:
                carried = r["seq"] * 3 % 17
            assert r["v"] == carried, (k, r["seq"])


def test_gradcam_recompute_matches_python_reference(spark):
    data = _gen_sequences(seed=13)
    df = spark.createDataFrame(data, "k string, seq long").withColumn(
        "hf", (F.col("seq") * 7 % 5) < 2
    )
    got = rows(with_gradcam_cadence(df, "k", "seq", "hf", every_n_fire=2), "k", "seq")
    by_key: dict[str, list] = {}
    for r in got:
        by_key.setdefault(r["k"], []).append(r)
    for k, rs in by_key.items():
        expected = _py_gradcam([r["hf"] for r in rs], 2)
        assert [r["recompute_heatmap"] for r in rs] == expected, k


def _py_dup_span_removal(docs: dict[int, str], gram_n: int):
    """Pure-Python mirror of operators/dedup.py dup_span_removal: count
    every gram_n-token window corpus-wide, mark every token position
    inside a >1-occurrence window, join the survivors."""
    from collections import Counter

    toks = {d: t.split(" ") for d, t in docs.items()}
    grams: Counter = Counter()
    for tk in toks.values():
        for s in range(len(tk) - gram_n + 1):
            grams[" ".join(tk[s : s + gram_n])] += 1
    out = {}
    for did, tk in toks.items():
        removed: set[int] = set()
        for s in range(len(tk) - gram_n + 1):
            if grams[" ".join(tk[s : s + gram_n])] > 1:
                removed.update(range(s, s + gram_n))
        surv = [t for i, t in enumerate(tk) if i not in removed]
        out[did] = (len(tk), len(removed), " ".join(surv))
    return out


def test_dup_span_removal_matches_python_reference(spark):
    """VERDICT r6 #2: the removal transform, fuzzed against the Python
    mirror — random small-vocab docs with planted exact-duplicate
    clusters so self-repeats, cross-doc repeats, overlapping islands
    and whole-doc removals all occur."""
    import hashlib

    from firewatch_spark.operators import dedup

    rng = random.Random(41)
    vocab = [f"w{i}" for i in range(6)]  # tiny vocab → dense collisions
    docs: dict[int, str] = {}
    for i in range(50):
        if docs and rng.random() < 0.2:
            docs[i] = docs[rng.choice(list(docs))]
        else:
            docs[i] = " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 24)))
    gram_n = 3
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed_tokens"], r["cleaned_md5"])
        for r in rows(dedup.dup_span_removal(df, gram_n=gram_n))
    }
    expected = {
        d: (n, rm, hashlib.md5(clean.encode()).hexdigest())
        for d, (n, rm, clean) in _py_dup_span_removal(docs, gram_n).items()
    }
    assert got == expected


def _py_cross_doc_span_dedup(docs: dict[int, str], gram_n: int):
    """Pure-Python mirror of operators/dedup.py cross_doc_span_dedup:
    each gram content elects its min-doc keeper; a position is removed
    iff it lies in a window whose content also occurs in a LOWER doc
    id."""
    toks = {d: t.split(" ") for d, t in docs.items()}
    keeper: dict[str, int] = {}
    spans_docs: dict[str, set[int]] = {}
    for did in sorted(toks):
        tk = toks[did]
        for s in range(len(tk) - gram_n + 1):
            g = " ".join(tk[s : s + gram_n])
            keeper.setdefault(g, did)
            spans_docs.setdefault(g, set()).add(did)
    out = {}
    for did, tk in toks.items():
        removed: set[int] = set()
        for s in range(len(tk) - gram_n + 1):
            g = " ".join(tk[s : s + gram_n])
            if len(spans_docs[g]) > 1 and keeper[g] < did:
                removed.update(range(s, s + gram_n))
        surv = [t for i, t in enumerate(tk) if i not in removed]
        out[did] = (len(tk), len(removed), " ".join(surv))
    return out


def test_cross_doc_span_dedup_matches_python_reference(spark):
    """VERDICT r10 #3: the first-occurrence-keep cross-doc removal,
    fuzzed against the Python mirror on the same planted-duplicate
    corpus shape as dup_span_removal — keeper docs must retain their
    spans (and their own self-repeats of them), later docs lose them,
    single-doc self-repeats stay."""
    import hashlib

    from firewatch_spark.operators import dedup

    rng = random.Random(43)
    vocab = [f"w{i}" for i in range(6)]
    docs: dict[int, str] = {}
    for i in range(50):
        if docs and rng.random() < 0.2:
            docs[i] = docs[rng.choice(list(docs))]
        else:
            docs[i] = " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 24)))
    gram_n = 3
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed_tokens"], r["cleaned_md5"])
        for r in rows(dedup.cross_doc_span_dedup(df, gram_n=gram_n))
    }
    expected = {
        d: (n, rm, hashlib.md5(clean.encode()).hexdigest())
        for d, (n, rm, clean) in _py_cross_doc_span_dedup(docs, gram_n).items()
    }
    assert got == expected
    # the corpus-level contract: at least one doc keeps each repeated
    # span, so total removal is strictly less than the all-copies form
    # on any corpus with a cross-doc repeat
    all_form = _py_dup_span_removal(docs, gram_n)
    assert sum(rm for _, rm, _ in expected.values()) < sum(
        rm for _, rm, _ in all_form.values()
    )


def _py_canonical_url(url: str) -> str:
    """urllib.parse-based reference of web.with_canonical_url's
    documented rules (VERDICT r10 #5).  urlsplit supplies the
    scheme/netloc/path/query/fragment decomposition (first-'?' query,
    first-'#' fragment — exactly where hand-rolled split_part logic
    can drift); the normalization rules are applied on top.  Port
    comparison is TEXTUAL like the operator's (':0443' is preserved —
    out-of-contract spellings, documented)."""
    from urllib.parse import urlsplit

    s = urlsplit(url)
    scheme = s.scheme.lower()
    netloc = s.netloc.lower()
    hname, _, hport = netloc.partition(":")
    host = hname[4:] if hname.startswith("www.") else hname
    port = (
        ""
        if (
            hport == ""
            or (scheme == "https" and hport == "443")
            or (scheme == "http" and hport == "80")
        )
        else ":" + hport
    )
    path = s.path
    if path in ("", "/"):
        path = "/"
    elif path.endswith("/"):
        path = path[:-1]
    from firewatch_spark.operators.web import TRACKING_KEYS

    params = sorted(
        p
        for p in s.query.split("&")
        if p and not p.startswith("utm_") and p.partition("=")[0] not in TRACKING_KEYS
    )
    q = "&".join(params)
    return f"{scheme}://{host}{port}{path}" + (f"?{q}" if q else "")


def _gen_messy_urls(seed: int, n: int = 400) -> list[str]:
    """Random absolute http(s) URLs inside the operator's documented
    contract, biased toward the messy axes: case, www, ports, empty
    ports, trailing/multi slashes, empty params, '=' in values,
    tracking noise, '?' INSIDE the query, whole URLs embedded in a
    query param (the second-'://' trap), multi-'#' fragments."""
    rng = random.Random(seed)
    urls = []
    for _ in range(n):
        scheme = rng.choice(["http", "https", "HTTP", "Https", "hTtPs"])
        www = rng.choice(["", "", "www.", "WWW."])
        host = rng.choice(
            ["example.com", "Sub.Example.ORG", "a.b.c.example.net", "x.io"]
        )
        port = rng.choice(["", "", ":80", ":443", ":8080", ":8443", ":"])
        segs = rng.randint(0, 3)
        path = "".join(
            "/" + rng.choice(["A", "b", "c-d", "e.html", "", "f%20g"])
            for _ in range(segs)
        )
        if rng.random() < 0.3:
            path += "/"
        params = []
        for _ in range(rng.randint(0, 5)):
            k = rng.choice(
                ["a", "B", "utm_source", "utm_x", "fbclid", "gclid", "ref",
                 "q", "redirect", "empty"]
            )
            v = rng.choice(
                ["1", "2", "x=y", "", "what?no", "https://other.example.com/p?u=1",
                 "a b", "%3F"]
            )
            params.append(f"{k}={v}" if rng.random() < 0.9 else k)
        if rng.random() < 0.15:
            params.append("")
        query = "&".join(params)
        frag = rng.choice(["", "", "#top", "#a#b", "#?x=1"])
        url = f"{scheme}://{www}{host}{port}{path}"
        if query or rng.random() < 0.1:
            url += "?" + query
        url += frag
        urls.append(url)
    return urls


def test_canonical_url_matches_urllib_reference(spark):
    """VERDICT r10 #5: with_canonical_url fuzzed against the urllib
    reference.  Found (and now pins the fixes for) two second-
    occurrence split_part truncations: a '://' inside a query param
    cut the URL, and a '?' inside the query cut the query."""
    from firewatch_spark.operators import web

    urls = sorted(set(_gen_messy_urls(seed=47)))
    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(urls)], "doc_id long, url string"
    )
    got = {
        r["doc_id"]: r["canonical_url"]
        for r in rows(web.with_canonical_url(df), "doc_id")
    }
    mism = []
    for i, u in enumerate(urls):
        want = _py_canonical_url(u)
        if got[i] != want:
            mism.append((u, got[i], want))
    assert not mism, mism[:5]


def _rand_corpus(seed: int, n_docs: int = 60):
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(25)] + ["the", "a", "of", "and"]
    return [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 90))))
        for i in range(n_docs)
    ]


def test_cms_matches_python_reference(spark):
    """Sketch buckets AND min-estimates vs a pure-Python CMS built with
    the same md5 bucket hash, over a random corpus."""
    import hashlib
    from collections import Counter

    from firewatch_spark.operators import text as T

    data = _rand_corpus(7)
    df = spark.createDataFrame(data, ["doc_id", "text"])

    def pos(s, tok, width=16):
        h = hashlib.md5(f"cms{s}|{tok}".encode()).hexdigest()
        return int(h[:8], 16) % width

    counts = Counter(tok for _, t in data for tok in t.split(" "))
    sketch = Counter()
    for tok, c in counts.items():
        for s in range(3):
            sketch[(s, pos(s, tok))] += c
    got_sketch = {
        (r["salt"], r["pos"]): r["cnt"] for r in T.token_cms(df).collect()
    }
    assert got_sketch == dict(sketch)
    est = {
        r["tok"]: r["est_cnt"]
        for r in T.cms_estimate(
            T.token_cms(df),
            df.select(F.explode(F.split("text", " ")).alias("tok")).distinct(),
        ).collect()
    }
    for tok, c in counts.items():
        expect = min(sketch[(s, pos(s, tok))] for s in range(3))
        assert est[tok] == expect and est[tok] >= c, tok


def test_hll_matches_python_reference(spark):
    """Bucket max-ranks AND the raw estimate vs a pure-Python HLL with
    the same md5 prefix hash."""
    import hashlib

    from firewatch_spark.operators import text as T

    data = [(i, "g" if i % 2 else "h", t) for i, (_, t) in enumerate(_rand_corpus(11, 30))]
    df = spark.createDataFrame(data, ["doc_id", "grp", "text"])

    mr = {}
    for _, g, t in data:
        for tok in t.split(" "):
            h = int(hashlib.md5(f"hll|{tok}".encode()).hexdigest()[:8], 16)
            bucket, w = h % 16, h // 16
            rho = 29 if w == 0 else 29 - len(bin(w)[2:])
            mr[(g, bucket)] = max(mr.get((g, bucket), 0), rho)
    got = {
        (r["grp"], r["bucket"]): r["max_rho"]
        for r in T.token_hll_sketch(df, "grp").collect()
    }
    assert got == mr
    est = {r["grp"]: r["hll_raw_est"] for r in T.hll_estimate(T.token_hll_sketch(df, "grp")).collect()}
    for g in ("g", "h"):
        denom = sum(2.0 ** -m for (gg, _), m in mr.items() if gg == g)
        denom += 16 - sum(1 for (gg, _) in mr if gg == g)
        assert est[g] == 0.673 * 256.0 / denom, g


def test_gopher_rules_match_python_reference(spark):
    """Every rule flag and the keep verdict vs a pure-Python mirror
    over a random corpus (thresholds as published)."""
    from firewatch_spark.operators import text as T

    data = _rand_corpus(13)
    df = spark.createDataFrame(data, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in T.with_gopher_rules(df).collect()}
    stop = {"the", "a", "of", "and", "to", "in"}
    for doc_id, txt in data:
        toks = txt.split(" ")
        n = len(toks)
        mwl = (len(txt) - (n - 1)) / n
        grams = (
            [" ".join(toks[i : i + 2]) for i in range(n - 1)] if n >= 2 else [txt]
        )
        topg = max(grams.count(g) for g in set(grams)) / len(grams)
        runs, best = 1, 1
        for i in range(1, n):
            runs = runs + 1 if toks[i] == toks[i - 1] else 1
            best = max(best, runs)
        r = got[doc_id]
        assert r["r_word_count"] == (50 <= n <= 100000), doc_id
        assert r["r_mean_word_len"] == (3.0 <= mwl <= 10.0), doc_id
        assert r["r_stopwords"] == (len(stop & set(toks)) >= 2), doc_id
        assert r["r_top_bigram"] == (topg <= 0.2), doc_id
        assert r["r_max_run"] == (best <= 4), doc_id
        n_failed = sum(
            not r[c]
            for c in (
                "r_word_count", "r_mean_word_len", "r_symbol_ratio",
                "r_alpha_words", "r_stopwords", "r_top_bigram", "r_max_run",
            )
        )
        assert r["n_failed"] == n_failed and r["keep"] == (n_failed == 0)


def test_bm25_matches_python_reference_fuzz(spark):
    """Full top-k table (ranks, hits, scaled scores) vs a pure-Python
    mirror of the scaled-int BM25 over a random corpus and random
    multi-term queries."""
    from firewatch_spark.operators import text as T

    rng = random.Random(29)
    data = _rand_corpus(29)
    vocab = [f"w{i}" for i in range(25)] + ["the", "a", "of", "and"]
    queries = {
        f"q{j}": tuple(rng.sample(vocab, rng.randint(1, 4))) for j in range(5)
    }
    df = spark.createDataFrame(data, ["doc_id", "text"])
    got = [
        (r["query_id"], r["rank"], r["doc_id"], r["n_terms_hit"], r["score_scaled"])
        for r in rows(T.bm25_topk(df, queries, k=7), "query_id", "rank")
    ]

    toks = {d: t.split(" ") for d, t in data}
    n_docs = len(data)
    total = sum(len(ts) for ts in toks.values())
    dfreq = {}
    for ts in toks.values():
        for t in set(ts):
            dfreq[t] = dfreq.get(t, 0) + 1
    expect = []
    for qid, terms in sorted(queries.items()):
        scored = []
        for d, ts in toks.items():
            s = hit = 0
            for t in terms:
                tf = ts.count(t)
                if not tf:
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
        expect += [
            (qid, rk, d, h, s) for rk, (d, h, s) in enumerate(scored[:7], 1)
        ]
    assert got == expect


def test_c4_filters_match_python_reference_fuzz(spark):
    """Every line/page rule, counts, and the clean-text md5 vs a
    pure-Python mirror over random multi-line pages with random
    punctuation endings and random marker injections."""
    import hashlib

    from firewatch_spark.operators import text as T

    rng = random.Random(31)
    vocab = [f"w{i}" for i in range(25)] + ["the", "a", "of", "and"]
    pages = []
    for i in range(60):
        lines = []
        for _ in range(rng.randint(1, 8)):
            words = [rng.choice(vocab) for _ in range(rng.randint(1, 9))]
            if rng.random() < 0.15:
                words.append("JavaScript" if rng.random() < 0.5 else "javascript")
            if rng.random() < 0.08:
                words.append("lorem ipsum")
            if rng.random() < 0.08:
                words.append("{")
            if rng.random() < 0.08:
                words.append(rng.choice(["badword1", "badword2"]))
            line = " ".join(words) + rng.choice([".", "!", "?", "", ","])
            lines.append(line)
        pages.append((i, "\n".join(lines)))
    df = spark.createDataFrame(pages, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in T.with_c4_filters(df).collect()}

    for doc_id, txt in pages:
        lines = txt.split("\n")
        kept = [
            l
            for l in lines
            if l[-1:] in (".", "!", "?")
            and len(l.split(" ")) >= 5
            and "javascript" not in l.lower()
        ]
        clean = "\n".join(kept)
        n_sent = sum(clean.count(c) for c in ".!?")
        # round 12 (ADVICE r11): badwords match on the punctuation-and-
        # whitespace-normalized page, so 'badword1.' at a line end now
        # correctly hits (the old split-on-spaces mirror missed it)
        import re as _re2

        _norm = " " + _re2.sub(r"[^a-z0-9]+", " ", txt.lower()) + " "
        bad = " badword1 " in _norm or " badword2 " in _norm
        lorem = "lorem ipsum" in txt.lower()
        brace = "{" in txt
        r = got[doc_id]
        assert r["n_lines"] == len(lines), doc_id
        assert r["n_kept_lines"] == len(kept), doc_id
        assert r["n_sentences"] == n_sent, doc_id
        assert r["has_badword"] == bad and r["has_lorem"] == lorem, doc_id
        assert r["has_brace"] == brace, doc_id
        assert r["clean_md5"] == hashlib.md5(clean.encode()).hexdigest(), doc_id
        assert r["keep"] == (not bad and not lorem and not brace and n_sent >= 3)


def test_domain_blocklist_matches_python_reference_fuzz(spark):
    """blocked / matched_entry / match_labels vs a pure-Python
    longest-suffix reference over random hosts and a blocklist mixing
    real suffixes of those hosts with decoys."""
    from firewatch_spark.operators import web as W

    rng = random.Random(37)
    subs = ["ads", "blog", "cdn", "media", "shop", "x"]
    mids = [f"site{i}" for i in range(12)]
    tlds = ["example.com", "example.org", "example.net"]
    hosts = []
    for i in range(80):
        depth = rng.randint(0, 3)
        labels = [rng.choice(subs) for _ in range(depth)] + [
            rng.choice(mids)
        ] + rng.choice(tlds).split(".")
        hosts.append((i, ".".join(labels)))
    # entries: random label-boundary suffixes of random hosts + decoys
    entries = set()
    for _ in range(12):
        h = rng.choice(hosts)[1].split(".")
        start = rng.randint(0, len(h) - 2)
        entries.add(".".join(h[start:]))
    entries |= {"nomatch.example.xyz", "decoy.test"}
    bl = [(e, f"cat{j % 3}") for j, e in enumerate(sorted(entries))]

    df = spark.createDataFrame(hosts, "doc_id long, host string")
    bldf = spark.createDataFrame(bl, "entry string, category string")
    got = {r["doc_id"]: r for r in W.domain_blocklist_filter(df, bldf).collect()}

    cat = dict(bl)
    for doc_id, host in hosts:
        labels = host.split(".")
        matches = [
            ".".join(labels[i:])
            for i in range(len(labels) - 1)
            if ".".join(labels[i:]) in cat
        ]
        r = got[doc_id]
        if not matches:
            assert not r["blocked"] and r["matched_entry"] is None, doc_id
        else:
            best = max(matches, key=lambda e: len(e.split(".")))
            assert r["blocked"], doc_id
            assert r["matched_entry"] == best, doc_id
            assert r["category"] == cat[best], doc_id
            assert r["match_labels"] == len(best.split(".")), doc_id


# --- round 12: _dup_islands family fuzz (VERDICT r11 #4) -------------
# The island machinery (merge scan, gram-window off-by-ones, keep-first
# vs all-copies mark predicates) is shared by dup_span_removal,
# cross_doc_span_dedup AND with_dup_ngram_coverage; the r11 tests fuzz
# the two removal forms on one seed each.  This drives all THREE
# surfaces across multiple seeds, gram sizes and corpus shapes —
# including docs shorter than gram_n (no window), docs exactly gram_n
# long (one window), whole-doc duplicates (everything removed in the
# all-copies form, keeper-retained in keep-first) and near-duplicate
# prefixes (islands that merge at one end and not the other).


def _py_dup_coverage(docs: dict[int, str], gram_n: int):
    """Pure-Python mirror of with_dup_ngram_coverage: union length of
    all >1x-seen windows per doc (self-repeats count)."""
    from collections import Counter

    toks = {d: t.split(" ") for d, t in docs.items()}
    grams: Counter = Counter()
    for tk in toks.values():
        for s in range(len(tk) - gram_n + 1):
            grams[" ".join(tk[s : s + gram_n])] += 1
    out = {}
    for did, tk in toks.items():
        covered: set[int] = set()
        for s in range(len(tk) - gram_n + 1):
            if grams[" ".join(tk[s : s + gram_n])] > 1:
                covered.update(range(s, s + gram_n))
        out[did] = (len(tk), len(covered))
    return out


def _gen_island_corpus(seed: int) -> dict[int, str]:
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(rng.choice([4, 6, 9]))]
    docs: dict[int, str] = {}
    n_docs = rng.randint(20, 45)
    for i in range(n_docs):
        r = rng.random()
        if docs and r < 0.15:
            # exact whole-doc duplicate
            docs[i] = docs[rng.choice(list(docs))]
        elif docs and r < 0.3:
            # shared prefix + fresh tail: islands merge at the front
            # of one doc and stop mid-doc in the other (the off-by-one
            # surface at island boundaries)
            src = docs[rng.choice(list(docs))].split(" ")
            cut = rng.randint(1, len(src))
            tail = [rng.choice(vocab) for _ in range(rng.randint(0, 10))]
            docs[i] = " ".join(src[:cut] + tail)
        else:
            # includes lengths BELOW and AT typical gram_n values
            docs[i] = " ".join(
                rng.choice(vocab) for _ in range(rng.randint(1, 30))
            )
    return docs


def test_dup_islands_family_fuzz_multi_seed(spark):
    """VERDICT r11 #4: multi-seed fuzz of the whole _dup_islands
    family — coverage measurement, all-copies removal and
    first-occurrence-keep removal — against independent pure-Python
    mirrors, across gram sizes 2..5."""
    import hashlib

    from firewatch_spark.operators import dedup

    for seed, gram_n in [(101, 2), (102, 3), (103, 4), (104, 5), (105, 3)]:
        docs = _gen_island_corpus(seed)
        df = spark.createDataFrame(
            list(docs.items()), "doc_id long, text string"
        )

        got_cov = {
            r["doc_id"]: (r["n_tokens"], r["n_dup_positions"])
            for r in rows(dedup.with_dup_ngram_coverage(df, gram_n=gram_n))
        }
        assert got_cov == _py_dup_coverage(docs, gram_n), (seed, gram_n)

        got_all = {
            r["doc_id"]: (r["n_tokens"], r["n_removed_tokens"], r["cleaned_md5"])
            for r in rows(dedup.dup_span_removal(df, gram_n=gram_n))
        }
        exp_all = {
            d: (n, rm, hashlib.md5(clean.encode()).hexdigest())
            for d, (n, rm, clean) in _py_dup_span_removal(docs, gram_n).items()
        }
        assert got_all == exp_all, (seed, gram_n)

        got_first = {
            r["doc_id"]: (r["n_tokens"], r["n_removed_tokens"], r["cleaned_md5"])
            for r in rows(dedup.cross_doc_span_dedup(df, gram_n=gram_n))
        }
        exp_first = {
            d: (n, rm, hashlib.md5(clean.encode()).hexdigest())
            for d, (n, rm, clean) in _py_cross_doc_span_dedup(
                docs, gram_n
            ).items()
        }
        assert got_first == exp_first, (seed, gram_n)

        # cross-form invariants, per seed:
        # (a) removal union length == coverage union length in the
        #     all-copies form (same marked set);
        # (b) keep-first never removes more than all-copies, per doc;
        # (c) a doc shorter than gram_n is untouched by every form.
        for d in docs:
            assert got_all[d][1] == got_cov[d][1], (seed, gram_n, d)
            assert got_first[d][1] <= got_all[d][1], (seed, gram_n, d)
            if got_cov[d][0] < gram_n:
                assert got_cov[d][1] == 0 and got_first[d][1] == 0


def test_long_span_dedup_at_production_length(spark):
    """The `long_span_dedup` query's operator, cross_doc_span_dedup at
    gram_n=50, end-to-end on long docs: a planted 60-token shared block
    is cut from the later doc only; a doc with no 50-token repeat is
    untouched; a doc shorter than 50 tokens carries no window."""
    import hashlib

    from firewatch_spark.operators import dedup

    block = " ".join(f"b{i % 7}" for i in range(60))
    docs = {
        0: block + " " + " ".join(f"t{i}" for i in range(20)),
        1: " ".join(f"u{i}" for i in range(30)) + " " + block,
        2: " ".join(f"v{i}" for i in range(80)),
        3: "short doc here",
    }
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    expected = {
        d: (nt, rm, hashlib.md5(clean.encode()).hexdigest())
        for d, (nt, rm, clean) in _py_cross_doc_span_dedup(docs, 50).items()
    }
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed_tokens"], r["cleaned_md5"])
        for r in rows(dedup.cross_doc_span_dedup(df, gram_n=50))
    }
    assert got == expected
    # keeper doc 0 retains the block; doc 1 loses all 60 tokens
    assert got[0][1] == 0
    assert got[1][1] == 60
    assert got[2][1] == 0 and got[3][1] == 0
