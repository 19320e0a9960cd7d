"""Unit tests for corpus-prep operators (operators/textprep.py)."""

import pytest
from pyspark.sql import functions as F

from kusto_pre_forge_spark.operators import textprep


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (0, "the cat sat on the mat"),
            (1, "spam spam spam spam"),
            (2, "one"),
            (3, ""),
            (4, "a b " * 30),  # 60 words, repeated bigram
        ],
        "doc_id long, text string",
    )


def test_repetition_features(docs):
    out = {r["doc_id"]: r for r in textprep.repetition_features(docs).collect()}
    assert set(out) == {0, 1, 2, 3, 4}  # short docs survive
    assert out[1]["dup_word_frac"] == pytest.approx(0.75)  # 1 distinct / 4
    assert out[1]["top_bigram_frac"] == pytest.approx(1.0)  # all "spam spam"
    assert out[0]["dup_word_frac"] == pytest.approx(1 / 6)
    assert out[2]["top_bigram_frac"] == 0.0  # no bigrams
    assert out[3]["n_words"] == 0 and out[3]["dup_word_frac"] == 0.0
    # "a b a b ...": "a b" appears 30×, "b a" 29× → 30/59
    assert out[4]["top_bigram_frac"] == pytest.approx(30 / 59)


def test_pii_scrub(spark):
    df = spark.createDataFrame(
        [(0, "mail bob@example.com code 1234567 ok"), (1, "clean text")],
        "id long, body string",
    )
    out = {r["id"]: r for r in textprep.pii_scrub(df, "body", "id").collect()}
    assert out[0]["n_emails"] == 1 and out[0]["n_digit_runs"] == 1
    assert out[0]["scrubbed"] == "mail <EMAIL> code <NUM> ok"
    assert out[1]["n_emails"] == 0 and out[1]["scrubbed"] == "clean text"


def test_chunking_boundaries(spark):
    mk = lambda n: " ".join(f"w{i}" for i in range(n))  # noqa: E731
    df = spark.createDataFrame(
        [(0, mk(0)), (1, mk(39)), (2, mk(40)), (3, mk(41))],
        "doc_id long, text string",
    )
    out = textprep.chunk_documents(df, chunk_words=40)
    by_doc = {}
    for r in out.collect():
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert len(by_doc[0]) == 1 and by_doc[0][0]["chunk_words"] == 0
    assert len(by_doc[1]) == 1 and by_doc[1][0]["chunk_words"] == 39
    assert len(by_doc[2]) == 1 and by_doc[2][0]["chunk_words"] == 40
    assert len(by_doc[3]) == 2
    last = [r for r in by_doc[3] if r["chunk_id"] == 1][0]
    assert last["chunk_words"] == 1 and last["chunk_text"] == "w40"


def test_corpus_ngram_topk(docs):
    out = textprep.corpus_ngram_topk(docs, n=2, k=3).collect()
    assert out[0]["ngram"] == "a b" and out[0]["ngram_count"] == 30
    assert out[1]["ngram"] == "b a" and out[1]["ngram_count"] == 29
    assert out[2]["ngram"] == "spam spam" and out[2]["ngram_count"] == 3


def test_corpus_trigrams(docs):
    out = textprep.corpus_ngram_topk(docs, n=3, k=2).collect()
    assert out[0]["ngram"] in ("a b a", "b a b")
    assert out[0]["ngram_count"] == 29


def test_tfidf_top_terms(spark):
    df = spark.createDataFrame(
        [(0, "apple apple banana"), (1, "banana cherry"), (2, "cherry date")],
        "doc_id long, text string",
    )
    out = textprep.doc_tfidf_top_terms(df, k=2)
    rows = {(r["doc_id"], r["rank"]): (r["term"], r["tfidf"]) for r in out.collect()}
    # doc 0: apple tf=2 df=1 → 2*ln3 ≈ 2.197; banana tf=1 df=2 → ln1.5
    assert rows[(0, 1)][0] == "apple"
    assert rows[(0, 1)][1] == pytest.approx(2.197225, abs=1e-6)
    assert rows[(0, 2)][0] == "banana"
    # doc 2: date tf=1 df=1 → ln3 beats cherry (df=2)
    assert rows[(2, 1)][0] == "date"


def test_train_bpe_matches_reference_merges(spark):
    """Pin the learned merges against a hand-run of the Sennrich procedure
    on a tiny corpus: 'low low low lower newest newest'."""
    from kusto_pre_forge_spark.operators.textprep import apply_bpe, train_bpe

    df = spark.createDataFrame(
        [(1, "low low low lower newest newest")], "doc_id long, text string"
    )
    merges = train_bpe(df, n_merges=4, min_pair_count=2)
    # word counts: low:3 lower:1 newest:2
    # pair counts r1: (l,o)=4 (o,w)=4 (w,</w>)=3 (e,s)=2 ... tie (l,o)/(o,w)
    # lexicographic tie-break -> (l,o); then (lo,w)=4; then (low,</w>)=3;
    # then (e,s)=2
    assert merges == [("l", "o"), ("lo", "w"), ("low", "</w>"), ("e", "s")]
    out = apply_bpe(df, merges).collect()[0]
    assert out.n_words == 6
    # low->1 sym (low</w>) x3; lower-> low,e,r,</w> =4; newest-> n,e,w,es,t,</w> =6 x2
    assert out.n_bpe_tokens == 3 * 1 + 4 + 2 * 6


def test_bpe_merge_pattern_adjacent_and_specials(spark):
    from kusto_pre_forge_spark.operators.textprep import train_bpe, apply_bpe

    # back-to-back pair occurrences must BOTH merge ('abab' -> ab ab)
    df = spark.createDataFrame([(1, "abab abab")], "doc_id long, text string")
    merges = train_bpe(df, n_merges=1, min_pair_count=2)
    assert merges == [("a", "b")]
    out = apply_bpe(df, merges).collect()[0]
    # abab -> ab ab </w> = 3 symbols per word
    assert out.n_bpe_tokens == 6
    # regex metachars in symbols must be literal-quoted
    df2 = spark.createDataFrame([(1, "$. $. $.")], "doc_id long, text string")
    m2 = train_bpe(df2, n_merges=2, min_pair_count=2)
    assert m2[0] == ("$", ".")
    out2 = apply_bpe(df2, m2).collect()[0]
    assert out2.n_words == 3


def test_unicode_normalize_and_fold(spark):
    from kusto_pre_forge_spark.operators.textprep import (
        normalize_unicode,
        strip_accents,
    )

    df = spark.createDataFrame(
        [("café", "café)")], "dec string, comp string"
    ).selectExpr("dec", "'café' AS comp")
    r = df.select(
        normalize_unicode("dec", "NFC").alias("nfc"),
        strip_accents("dec").alias("f1"),
        strip_accents("comp").alias("f2"),
        normalize_unicode(F.lit(None).cast("string"), "NFC").alias("nul"),
    ).first()
    assert r.nfc == "café", "decomposed -> composed under NFC"
    assert r.f1 == "cafe" and r.f2 == "cafe"
    assert r.nul is None


def test_url_normalize_invariances(spark):
    from kusto_pre_forge_spark.operators.textprep import url_normalize

    pairs = [
        ("HTTP://Ex.COM:80/P/?b=2&a=1#x", "https://ex.com/p?a=1&b=2"),
        ("https://ex.com:443/p/", "https://ex.com/p"),
        ("https://ex.com/", "https://ex.com/"),
        ("https://ex.com", "https://ex.com"),
    ]
    df = spark.createDataFrame(pairs, "u string, want string")
    for r in df.select(url_normalize("u").alias("n"), "want").collect():
        assert r.n == r.want


def test_train_bpe_sampled_matches_full(spark):
    """64 merges trained on a deterministic 10%-of-docs sample match the
    full-corpus merges — the production configuration for large vocab
    sizes (one Spark job per merge, so 32k-merge training runs on a
    sample). Fixture: 500 docs that are scaled copies of one word mix,
    so ANY non-empty subset has identical relative pair statistics and
    the merge sequence provably agrees; the md5-threshold sampler makes
    the subset — and hence the tokenizer — bit-reproducible anywhere."""
    from kusto_pre_forge_spark.operators.textprep import train_bpe

    base = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "wandering astronomers measure quasar brightness against "
        "yesterday's calibration spreadsheets"
    )
    docs = spark.createDataFrame(
        [(i, " ".join([base] * (1 + i % 3))) for i in range(500)],
        "doc_id long, text string",
    )
    full = train_bpe(docs, n_merges=64)
    sampled = train_bpe(
        docs, n_merges=64, sample_frac=0.1, sample_id_col="doc_id"
    )
    assert len(full) == len(sampled) > 0
    assert full == sampled, (full[:8], sampled[:8])
    # the sampler must actually sample (not pass everything through)
    from kusto_pre_forge_spark.operators.corpus import _hash_unit

    n_kept = docs.filter(
        _hash_unit(F.col("doc_id").cast("string"), "kpf-bpe") < 0.1
    ).count()
    assert 0 < n_kept < 100


# ---------------------------------------------------------------------------
# Production-vocab BPE: batched distributed training, in-driver training,
# and the rank-dict apply path — all pinned equal to sequential semantics.


def _ref_bpe_train(texts, n_merges, min_pair_count=2):
    """Independent in-test sequential Sennrich reference (naive recount)."""
    import re
    from collections import Counter

    words = Counter()
    for t in texts:
        for w in re.split(r"\s+", t.lower()):
            if w:
                words[w] += 1
    vocab = {tuple(list(w) + ["</w>"]): c for w, c in words.items()}
    merges = []
    for _ in range(n_merges):
        pc = Counter()
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += c
        if not pc:
            break
        (a, b), n = min(pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        if n < min_pair_count:
            break
        merges.append((a, b))
        nv = {}
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            nv[tuple(out)] = nv.get(tuple(out), 0) + c
        vocab = nv
    return merges


def _bpe_fixture_text():
    pre = ["re", "un", "de", "pro", "con", "trans", "inter", "sub",
           "over", "mis", "out", "up"]
    root = ["form", "struct", "pos", "ject", "duct", "gress", "ceive",
            "scribe", "tract", "mit", "fer", "vert"]
    suf = ["ing", "ed", "ion", "or", "ive", "able", "ment", "ly"]
    words = [a + b + c for a in pre for b in root for c in suf]
    # varied frequencies keep the ranking mostly tie-free (batching-friendly)
    return " ".join(w for i, w in enumerate(words) for _ in range(2 + (i * 7) % 13))


def test_train_bpe_batched_512_equals_sequential(spark):
    """>=512 merges with the default cap: the trainer must produce EXACTLY
    the sequential merge list — checked against an independent
    pure-Python sequential reference."""
    from kusto_pre_forge_spark.operators.textprep import train_bpe

    text = _bpe_fixture_text()
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = train_bpe(df, n_merges=512)
    want = _ref_bpe_train([text], 512)
    assert len(got) == 512
    assert got == want


def test_train_bpe_jobs_independent_of_merge_count(spark):
    """Training is one histogram collect: 60 merges issue no more Spark
    jobs than 6."""
    from kusto_pre_forge_spark.operators.textprep import train_bpe

    df = spark.createDataFrame(
        [(1, _bpe_fixture_text())], "doc_id long, text string"
    )
    sched = spark.sparkContext._jsc.sc().dagScheduler()

    def jobs(n_merges):
        j0 = sched.nextJobId()
        assert len(train_bpe(df, n_merges=n_merges)) == n_merges
        return sched.nextJobId() - j0

    assert jobs(6) == jobs(60)


def test_train_bpe_driver_histogram_equals_sequential(spark):
    """The in-driver production path (capped word histogram + incremental
    Sennrich) equals sequential training exactly when the cap covers the
    vocabulary — including on a tie-heavy corpus."""
    from kusto_pre_forge_spark.operators.textprep import train_bpe

    text = _bpe_fixture_text()
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = train_bpe(df, n_merges=700, driver_vocab_cap=100_000)
    want = _ref_bpe_train([text], 700)
    assert got == want and len(got) >= 512
    # tie-heavy corpus (every word count 2): driver == reference still
    ties = " ".join(w for w in ["abc", "abd", "bcd", "cde", "ab", "bc"] * 2)
    df2 = spark.createDataFrame([(1, ties)], "doc_id long, text string")
    assert train_bpe(df2, n_merges=50, driver_vocab_cap=10) == _ref_bpe_train(
        [ties], 50
    )


def test_apply_bpe_udf_path_equals_chained(spark, monkeypatch):
    """The rank-dict Arrow path and the chained-regex path are the same
    function: identical (n_words, n_bpe_tokens, sample_tokens) per doc.
    Byte-level: the chained-regex count (bpe_token_count), the rank-dict
    apply, the document encoder and the SFT segment encoder agree on
    every doc's token count."""
    from kusto_pre_forge_spark.operators.corpus import sft_tokenize_mask
    from kusto_pre_forge_spark.operators.textprep import (
        apply_bpe,
        bpe_encode_arrays,
        bpe_token_count,
        train_bpe,
    )

    text = _bpe_fixture_text()
    docs = [(1, text), (2, "reformed reforming substructure"),
            (3, "unjection  misducted\ttransgression"), (4, "zzz qqq"),
            # adversarial: empty doc, literal '|', multi-byte characters
            (5, ""), (6, "pipe|word a|b || héllo wörld € 😀 naïve"),
            (7, "x <|endoftext|> y<|endoftext|>z")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    merges = train_bpe(df, n_merges=120, driver_vocab_cap=100_000)
    assert len(merges) == 120
    monkeypatch.setattr(textprep, "_MAX_CHAINED_MERGES", 10_000)
    chained = apply_bpe(df, merges).orderBy("doc_id").collect()
    monkeypatch.setattr(textprep, "_MAX_CHAINED_MERGES", 0)
    arrow = apply_bpe(df, merges).orderBy("doc_id").collect()
    assert [r.asDict() for r in chained] == [r.asDict() for r in arrow]

    special = ["<|endoftext|>"]
    byte_merges = train_bpe(df, n_merges=120, byte_level=True)
    assert len(byte_merges) == 120
    counted = {
        r.doc_id: r.n
        for r in df.select(
            "doc_id", bpe_token_count(F.col("text"), byte_merges).alias("n")
        ).collect()
    }
    applied = {
        r.doc_id: r.n_bpe_tokens
        for r in apply_bpe(df, byte_merges, byte_level=True).collect()
    }
    encoded = {
        r.doc_id: len(r.ids) for r in bpe_encode_arrays(df, byte_merges).collect()
    }
    sft = sft_tokenize_mask(
        df.select("doc_id", F.col("text").alias("prompt"),
                  F.col("text").alias("response")),
        byte_merges,
    )
    ids = {d for d, _ in docs}
    assert set(counted) == set(encoded) == ids
    assert set(applied) == ids - {5}  # the empty doc has no pre-token
    for r in sft.collect():
        i = r.doc_id
        assert counted[i] == applied.get(i, 0) == encoded[i], i
        assert r.n_prompt_tokens == r.n_response_tokens == counted[i], i
        assert len(r.input_ids) == 2 * counted[i], i
    assert counted[5] == 0
    # special tokens stay one atomic token in the count and in the apply
    counted_sp = {
        r.doc_id: r.n
        for r in df.select(
            "doc_id",
            bpe_token_count(F.col("text"), byte_merges, special).alias("n"),
        ).collect()
    }
    applied_sp = {
        r.doc_id: r.n_bpe_tokens
        for r in apply_bpe(
            df, byte_merges, byte_level=True, special_tokens=special
        ).collect()
    }
    assert counted_sp == {i: applied_sp.get(i, 0) for i in counted_sp}
    assert counted_sp[7] < counted[7]


def test_apply_bpe_large_vocab_plan_depth(spark):
    """At >=1k merges the executed plan must NOT be a 1k-deep
    regexp_replace chain — the Arrow path keeps expression depth
    independent of vocabulary size, and still counts correctly."""
    from kusto_pre_forge_spark.operators.textprep import apply_bpe, train_bpe

    text = _bpe_fixture_text()
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    # train to exhaustion (the fixture supports ~1.3k merges)
    merges = train_bpe(df, n_merges=5000, driver_vocab_cap=100_000)
    assert len(merges) >= 1000
    out = apply_bpe(df, merges)  # past _MAX_CHAINED_MERGES -> Arrow path
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "regexp_replace" not in plan
    assert "ArrowEvalPython" in plan or "Python" in plan
    row = out.collect()[0]
    # fully trained vocabulary: every word collapses to ONE symbol
    assert row.n_bpe_tokens == row.n_words


def test_url_normalize_idempotent_fuzz(spark):
    """Property: normalize(normalize(u)) == normalize(u) — a dedup KEY
    function must be a projection (stable under re-application)."""
    urls = [
        "HTTP://Example.COM:80/A/B/?z=1&a=2#frag",
        "https://example.com:443/path/",
        "http://example.com/UPPER?b=2&B=1&a",
        "https://example.com",
        "example.com/no-scheme?x=1#y",
        "https://ex.com/a//b///c/?q=%41&Q=a",
        "not a url at all",
        "",
    ]
    from kusto_pre_forge_spark.operators.textprep import url_normalize

    df = spark.createDataFrame([(u,) for u in urls], "u string")
    once = df.select(url_normalize("u").alias("n1"))
    twice = once.select(F.col("n1"), url_normalize("n1").alias("n2")).collect()
    for r in twice:
        assert r.n2 == r.n1, (r.n1, r.n2)


# ---------------------------------------------------------------------------
# unigram-LM tokenizer
# ---------------------------------------------------------------------------


def _toy_hist():
    return [("abab", 50), ("ab", 30), ("ba", 10), ("cab", 5)]


def test_unigram_em_likelihood_monotonic():
    trace = []
    textprep._train_unigram_driver(
        _toy_hist(),
        vocab_size=10_000,  # no pruning → pure EM
        max_piece_len=4,
        seed_size=10_000,
        n_em_iters=5,
        prune_frac=0.75,
        ll_trace=trace,
    )
    assert len(trace) == 5
    for a, b in zip(trace, trace[1:]):
        assert b >= a - 1e-9, trace  # EM never decreases the likelihood


def test_unigram_learns_frequent_substring():
    vocab = textprep._train_unigram_driver(
        _toy_hist(),
        vocab_size=8,
        max_piece_len=4,
        seed_size=64,
        n_em_iters=3,
        prune_frac=0.5,
    )
    pieces = {p for p, _ in vocab}
    assert {"a", "b", "c"} <= pieces  # chars never pruned
    assert "ab" in pieces or "abab" in pieces  # dominant substring survives
    assert len([p for p in pieces if len(p) > 1]) <= 8


def test_unigram_train_deterministic(spark, docs):
    v1 = textprep.train_unigram(docs, "text", vocab_size=30, n_em_iters=2)
    v2 = textprep.train_unigram(docs, "text", vocab_size=30, n_em_iters=2)
    assert v1 == v2
    assert all(isinstance(p, str) and lp <= 0.0 for p, lp in v1)


def test_unigram_viterbi_matches_bruteforce(spark):
    from math import inf

    vocab = [
        ("a", -2.0), ("b", -2.5), ("c", -3.0),
        ("ab", -1.2), ("bc", -1.5), ("abc", -2.9), ("cab", -2.2),
    ]
    table = dict(vocab)
    unk = min(table.values()) - 10.0

    def brute_best(w):
        best = -inf
        n = len(w)

        def rec(i, score):
            nonlocal best
            if i == n:
                best = max(best, score)
                return
            for j in range(i + 1, n + 1):
                lp = table.get(w[i:j])
                if lp is None:
                    if j - i != 1:
                        continue
                    lp = unk
                rec(j, score + lp)

        rec(0, 0.0)
        return best

    words = ["abc", "abcab", "cabab", "azb", "bcbc", "a"]
    df = spark.createDataFrame([(w,) for w in words], "w string")
    out = {
        r.w: r.tk
        for r in df.select(
            "w", textprep._unigram_tokenize_udf(vocab)(F.col("w")).alias("tk")
        ).collect()
    }
    for w in words:
        pieces = out[w].joined.split("|")
        assert "".join(pieces) == w
        score = sum(
            table.get(p, unk if len(p) == 1 else -inf) for p in pieces
        )
        assert abs(score - brute_best(w)) < 1e-9, (w, pieces)


def test_apply_unigram_reconstruct_bounds_and_unseen(spark, docs):
    vocab = textprep.train_unigram(docs, "text", vocab_size=40, n_em_iters=2)
    extra = spark.createDataFrame(
        [(9, "the qqq zzz§ unseen|pipe")], "doc_id long, text string"
    )
    out = textprep.apply_unigram(docs.union(extra), vocab, "text", "doc_id")
    rows = {r.doc_id: r for r in out.collect()}
    assert 3 not in rows  # empty doc has no words
    for r in rows.values():
        assert r.reconstruct_ok, r
        assert r.n_words <= r.n_pieces <= r.piece_chars, r
    # piece_chars equals summed word lengths (the oracle identity)
    import re

    def chars(t):
        return sum(len(w) for w in re.split(r"\s+", t.lower()) if w)

    assert rows[0].piece_chars == chars("the cat sat on the mat")
    assert rows[9].piece_chars == chars("the qqq zzz§ unseen|pipe")


# ---------------------------------------------------------------------------
# WordPiece tokenizer
# ---------------------------------------------------------------------------


def test_wordpiece_likelihood_score_differs_from_bpe():
    """the distinguishing property: WordPiece merges the pair with the
    best count(ab)/(count(a)count(b)) — a rare pair of rare units beats
    a frequent pair of ubiquitous units, where BPE picks raw count."""
    # 'xy' occurs 4× but x,y occur ONLY together (score 4/(4*4)=0.25);
    # 'ab' occurs 10× but a,b are everywhere (10/(31*21)≈0.015)
    hist = [
        ("ab", 10),
        ("aab", 10),
        ("ba", 1),
        ("xy", 4),
    ]
    pieces = textprep._train_wordpiece_driver(hist, n_merges=1, min_pair_count=2)
    assert "xy" in pieces and "ab" not in pieces
    bpe = textprep._train_bpe_driver(hist, n_merges=1, min_pair_count=2)
    assert bpe[0] != ("x", "y")  # BPE's raw count prefers an a/b pair


def _ref_wordpiece_train(word_counts, n_merges, min_pair_count=2):
    """Independent naive WordPiece reference: recount every pair and unit
    on each merge; best = max count(ab)/(count(a)count(b)) over pairs with
    count >= min_pair_count, ties to the smallest pair."""
    from collections import Counter

    vocab = {tuple(w): c for w, c in word_counts if w}
    pieces = {s for syms in vocab for s in syms}
    for _ in range(n_merges):
        pairs, units = Counter(), Counter()
        for syms, c in vocab.items():
            for s in syms:
                units[s] += c
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += c
        live = [(p, n) for p, n in pairs.items() if n >= min_pair_count]
        if not live:
            break
        (a, b), _ = min(
            live,
            key=lambda kv: (
                -(kv[1] / (units[kv[0][0]] * units[kv[0][1]])),
                kv[0][0],
                kv[0][1],
            ),
        )
        pieces.add(a + b)
        merged = Counter()
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            merged[tuple(out)] += c
        vocab = merged
    return sorted(pieces)


def test_train_wordpiece_driver_equals_naive_reference():
    """The incremental pair-index WordPiece trainer equals a naive
    recount-every-merge reference at 64 merges."""
    import re
    from collections import Counter

    hist = sorted(
        Counter(
            w for w in re.split(r"\s+", _bpe_fixture_text().lower()) if w
        ).items()
    )
    got = textprep._train_wordpiece_driver(hist, n_merges=64)
    want = _ref_wordpiece_train(hist, 64)
    assert got == want
    assert len(got) == len({c for w, _ in hist for c in w}) + 64


def test_wordpiece_greedy_longest_match(spark):
    pieces = ["a", "b", "c", "d", "ab", "abc"]
    df = spark.createDataFrame([("abcd",), ("abd",), ("zabc",)], "w string")
    out = {
        r.w: r.tk.joined
        for r in df.select(
            "w", textprep._wordpiece_tokenize_udf(pieces)(F.col("w")).alias("tk")
        ).collect()
    }
    assert out["abcd"] == "abc|d"   # longest-first, not 'ab|c|d'
    assert out["abd"] == "ab|d"
    assert out["zabc"] == "z|abc"   # unseen char falls back to itself


def test_apply_wordpiece_on_docs(spark, docs):
    pieces = textprep.train_wordpiece(docs, "text", n_merges=16)
    out = {r.doc_id: r for r in textprep.apply_wordpiece(docs, pieces, "text", "doc_id").collect()}
    assert 3 not in out  # empty doc
    for r in out.values():
        assert r.reconstruct_ok
        assert r.n_words <= r.n_pieces <= r.piece_chars
    # 'spam spam spam spam': 'spam' is a whole learned piece → 4 pieces
    assert out[1].n_pieces == 4 and out[1].sample_pieces == "spam"


def test_wordpiece_train_deterministic(spark, docs):
    assert textprep.train_wordpiece(docs, "text", n_merges=12) == \
        textprep.train_wordpiece(docs, "text", n_merges=12)


def test_fix_mojibake_repairs_and_counts(spark):
    """Classic cp1252 mojibake repairs to the intended characters; clean
    text passes byte-identical; chars_removed meters the damage."""
    from kusto_pre_forge_spark.operators import textprep as tp

    rows = [
        (1, "cafÃ© rÃ©sumÃ©"),           # 3 two-byte repairs
        (2, "itâ€™s â€œquotedâ€¦"),      # three-byte sequences
        (3, "plain ascii text"),          # untouched
        (4, "Ã¼ber naÃ¯ve faÃ§ade"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in tp.fix_mojibake(df, "text", "doc_id").collect()}
    assert got[1].fixed == "café résumé" and got[1].chars_removed == 3
    assert got[2].fixed == "it’s “quoted…"
    assert got[2].chars_removed == 6 and got[2].changed
    assert got[3].fixed == "plain ascii text"
    assert got[3].chars_removed == 0 and not got[3].changed
    assert got[4].fixed == "über naïve façade"
    # the pair table is generated from the encoding rule itself
    for moji, ch in tp.mojibake_pairs():
        assert moji == ch.encode("utf-8").decode("cp1252")


def test_html_extract_drops_chrome_keeps_body(spark):
    """jusText-style keep rule: body paragraphs survive; nav/header/
    footer/aside/script/style/comments, link-heavy blocks and too-short
    blocks are dropped; entities decode; plan is a pure scan+project."""
    from kusto_pre_forge_spark.operators import textprep as tp

    page = (
        '<html><!-- c --><head><style>p{}</style>'
        '<script>if (1 < 2) { x(); }</script></head><body>'
        '<nav><a href="/">Home</a> <a href="/a">About</a></nav>'
        '<header><h1><a href="#">Site</a></h1></header>'
        '<div><p>The quick brown fox jumps over the lazy dog &amp; '
        "friends.</p>"
        '<p>A second long paragraph with one <a href="x">inline link</a> '
        "buried in plenty of ordinary body text.</p>"
        "<p>Short.</p>"
        '<p><a href="/l1">link one</a> <a href="/l2">link two</a> '
        '<a href="/l3">link three</a> and barely any text</p></div>'
        '<aside><a>Ad</a></aside>'
        '<footer><p><a href="/c">Contact</a></p></footer></body></html>'
    )
    df = spark.createDataFrame(
        [(1, page), (2, "<html><body><p>tiny</p></body></html>"), (3, None)],
        "doc_id long, html string",
    )
    out = tp.html_extract(df, "html", "doc_id")
    rows = {r.doc_id: r for r in out.collect()}
    got = rows[1].content.split("\n")
    assert got[0] == (
        "The quick brown fox jumps over the lazy dog & friends."
    )
    assert got[1].startswith("A second long paragraph with one inline link")
    assert len(got) == 2  # Short. + link-farm + all chrome dropped
    assert rows[1].n_kept == 2 and rows[1].n_blocks >= 4
    assert rows[2].content == "" and rows[2].n_kept == 0
    assert rows[3].content is None  # NULL propagates, never fabricates

    # scale posture: zero exchanges — scan + project only
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_html_extract_link_density_boundary(spark):
    """The density rule is char-based: a long mostly-link block drops
    even when it clears the word floor."""
    from kusto_pre_forge_spark.operators import textprep as tp

    linky = (
        '<div><p><a href="/a">aaaa aaaa aaaa aaaa aaaa</a> tail</p>'
        "<p>plain body text with six words here</p></div>"
    )
    df = spark.createDataFrame(
        [(1, f"<html><body>{linky}</body></html>")], "doc_id long, html string"
    )
    r = tp.html_extract(df, "html", "doc_id").first()
    assert r.content == "plain body text with six words here"
    assert r.n_kept == 1 and r.n_blocks == 2


def test_domain_blocklist_filter_label_boundary(spark):
    """Blocking 'example.com' must drop any-depth subdomains but NOT
    'notexample.com' (label-boundary, not substring); NULL/absent hosts
    are kept; flag mode marks instead of dropping."""
    from kusto_pre_forge_spark.operators import textprep as tp

    rows = [
        (1, "https://example.com/x"),
        (2, "https://www.sub.example.com/y"),
        (3, "https://notexample.com/z"),
        (4, "https://good.org/w"),
        (5, "no scheme here"),
        (6, None),
    ]
    df = spark.createDataFrame(rows, "id long, url string")
    bl = spark.createDataFrame([("EXAMPLE.com",)], "domain string")
    kept = {r.id for r in tp.domain_blocklist_filter(df, "url", bl).collect()}
    assert kept == {3, 4, 5, 6}
    flagged = {
        r.id: r.keep
        for r in tp.domain_blocklist_filter(
            df, "url", bl, keep_col="keep"
        ).collect()
    }
    assert flagged == {1: False, 2: False, 3: True, 4: True, 5: True, 6: True}
    # plan posture: every join is a broadcast - the corpus never shuffles
    plan = (
        tp.domain_blocklist_filter(df, "url", bl)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_url_host_and_suffixes(spark):
    from pyspark.sql import functions as F

    from kusto_pre_forge_spark.operators import textprep as tp

    df = spark.createDataFrame(
        [(1, "HTTPS://A.B.Example.COM:8080/p?q=1")], "id long, url string"
    )
    r = df.select(
        tp.url_host("url").alias("h"),
        tp.host_suffixes(tp.url_host("url")).alias("s"),
    ).first()
    assert r.h == "a.b.example.com"
    assert r.s == ["a.b.example.com", "b.example.com", "example.com", "com"]


def test_url_host_strips_userinfo(spark):
    """RFC 3986 authority userinfo must never leak into the host — a
    crawl-controllable 'user@' prefix would otherwise bypass
    domain_blocklist_filter (ADVICE r9 #3)."""
    from kusto_pre_forge_spark.operators import textprep as tp

    cases = [
        ("https://user@blocked.com/x", "blocked.com"),
        ("https://x:y@blocked.com/", "blocked.com"),       # password ':'
        ("https://a@b@c.example.org/p", "c.example.org"),  # last '@' wins
        ("https://user@Blocked.COM:8443/", "blocked.com"), # userinfo+port
        ("https://plain.example.com/", "plain.example.com"),
        ("https://host:8080/path", "host"),                # port, no userinfo
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)], "id long, url string"
    )
    got = {
        r.id: r.h
        for r in df.select("id", tp.url_host("url").alias("h")).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (cases[i][0], got[i])
    # end-to-end: the bypass URL is actually blocked now
    bl = spark.createDataFrame([("blocked.com",)], "domain string")
    docs = spark.createDataFrame(
        [(1, "https://user@blocked.com/a"), (2, "https://fine.org/b")],
        "id long, url string",
    )
    kept = sorted(
        r.id for r in tp.domain_blocklist_filter(docs, "url", bl).collect()
    )
    assert kept == [2]


def test_markdown_extract(spark):
    """The MARKDOWN_RULES chain: fences drop, inline constructs reduce
    to their prose, markers strip, snake_case survives the emphasis
    rule, counts ride along, and the plan is one codegen projection."""
    from kusto_pre_forge_spark.operators import textprep as tp

    md = (
        "# Title\n\nSome **bold** and _italic_ prose with `inline code` "
        "and a [link](https://x.y).\n\n```python\ncode = 'dropped'\n```\n\n"
        "- bullet one\n- bullet two\n\n> quoted wisdom\n\n"
        "![logo](img.png) keep my_var_name end."
    )
    df = spark.createDataFrame([(1, md), (2, None)], "id long, md string")
    out = {r.id: r for r in tp.markdown_extract(df, "md", "id").collect()}
    r = out[1]
    assert r.content == (
        "Title\n\nSome bold and italic prose with inline code and a link.\n\n"
        "bullet one\nbullet two\n\nquoted wisdom\n\nlogo keep my_var_name end."
    ), repr(r.content)
    assert r.n_code_blocks == 1 and r.n_links == 2
    assert out[2].content == "" and out[2].n_code_blocks == 0
    plan = (
        tp.markdown_extract(df, "md", "id")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan and "BatchEvalPython" not in plan


def test_bytes_to_unicode_bijection_and_knowns():
    """The GPT-2 byte↔unicode table: a 256-entry bijection, printable
    latin-1 identity, the famous Ġ (space) / Ċ (newline) remaps, and
    no symbol is ever the ' ' separator."""
    from kusto_pre_forge_spark.operators.textprep import _bytes_to_unicode

    b2u = _bytes_to_unicode()
    assert len(b2u) == 256 and len(set(b2u.values())) == 256
    assert b2u[ord("a")] == "a" and b2u[ord("!")] == "!"
    assert b2u[0x20] == "Ġ" and b2u[0x0A] == "Ċ" and b2u[0x09] == "ĉ"
    assert b2u[0xC3] == "Ã" and b2u[0xA9] == "©"
    assert " " not in b2u.values()
    # the 68 non-printables occupy 256..323 contiguously, b-ascending
    remapped = sorted(
        ord(c) for b, c in b2u.items() if ord(c) != b
    )
    assert remapped == list(range(256, 324))


def test_gpt2_pretokenizer_vectors(spark):
    """Hand-checked GPT-2 pre-tokenization: contractions split,
    leading space attaches, a whitespace run yields its FINAL char to
    the following token (the lookahead branch), specials extract
    atomically."""
    from kusto_pre_forge_spark.operators.textprep import byte_pretokens

    cases = [
        ("Hello world", None, ["Hello", " world"]),
        ("a  b", None, ["a", " ", " b"]),
        ("don't stop", None, ["don", "'t", " stop"]),
        ("x\n\ny", None, ["x", "\n", "\n", "y"]),
        ("num 123!?", None, ["num", " 123", "!?"]),
        ("tail  ", None, ["tail", "  "]),
        (
            "foo<|endoftext|>bar",
            ["<|endoftext|>"],
            ["foo", "<|endoftext|>", "bar"],
        ),
        ("foo<|end", ["<|endoftext|>"], ["foo", "<|", "end"]),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, (t, _, _) in enumerate(cases)], "i long, text string"
    )
    for i, (text, specials, want) in enumerate(cases):
        got = (
            df.filter(F.col("i") == i)
            .select(byte_pretokens(F.col("text"), specials).alias("p"))
            .collect()[0]
            .p
        )
        assert got == want, (text, got, want)


def test_byte_bpe_hand_computed_merges(spark):
    """Byte-level training pinned against a hand-computed merge
    sequence, including a multi-byte UTF-8 character (é = 0xC3 0xA9 →
    symbols 'Ã','©') whose bytes merge FIRST and then cross a merge
    boundary into a bigger token."""
    from kusto_pre_forge_spark.operators import textprep as tp

    # pre-tokens: "ééé" ×3 docs → symbols Ã © Ã © Ã ©  (cnt 3)
    #             " cat" ×2     → Ġ c a t               (cnt 2)
    df = spark.createDataFrame(
        [(1, "ééé cat"), (2, "ééé cat"), (3, "ééé")],
        "doc_id long, text string",
    )
    merges = tp.train_bpe(df, n_merges=4, byte_level=True)
    # pair counts round 1: ('Ã','©') 3×3=9 wins (greedy L-to-R gives 3
    # per word); then ('Ã©','Ã©') 3; then tie ('Ġ','c') 2 = ('a','t') 2
    # = ('Ã©Ã©','Ã©') 3? — recompute: after merge2 word is [Ã©Ã©, Ã©]
    # → pair ('Ã©Ã©','Ã©') count 3 wins round 3; round 4: 2-count tie
    # breaks lexicographically: 'at' < 'Ġc'? 'a'(97) < 'Ġ'(288) → a,t
    assert merges == [
        ("Ã", "©"),
        ("Ã©", "Ã©"),
        ("Ã©Ã©", "Ã©"),
        ("a", "t"),
    ]
    out = {
        r.doc_id: r
        for r in tp.apply_bpe(df, merges, byte_level=True).collect()
    }
    # doc 3: one pre-token "ééé" → single token 'Ã©Ã©Ã©'
    assert out[3].n_words == 1 and out[3].n_bpe_tokens == 1
    assert out[3].sample_tokens == "Ã©Ã©Ã©"
    # doc 1: ["ééé", " cat"] → ['Ã©Ã©Ã©'] + ['Ġ','c','at']
    assert out[1].n_words == 2 and out[1].n_bpe_tokens == 4


def test_byte_bpe_special_tokens_atomic(spark):
    """Specials never split, never merge, and never train."""
    from kusto_pre_forge_spark.operators import textprep as tp

    sp = ["<|endoftext|>"]
    df = spark.createDataFrame(
        [(i, "aaaa<|endoftext|>aaaa") for i in range(3)],
        "doc_id long, text string",
    )
    merges = tp.train_bpe(df, n_merges=3, byte_level=True, special_tokens=sp)
    flat = {s for m in merges for s in m} | {a + b for a, b in merges}
    assert not any("<|" in s for s in flat), "specials leaked into merges"
    out = tp.apply_bpe(
        df, merges, byte_level=True, special_tokens=sp
    ).collect()[0]
    # pre-tokens: ["aaaa", "<|endoftext|>", "aaaa"]; merges collapse
    # aaaa→(aa)(aa)→aaaa in 2 merges; special stays 1 token
    assert out.n_words == 3 and out.n_bpe_tokens == 3


def test_bpe_encode_ids_hand_checked(spark):
    """Encoded ids: raw bytes 0..255 (space = 32 through Ġ), merged
    tokens 256+rank, document order preserved, no UNK possible."""
    from kusto_pre_forge_spark.operators import textprep as tp

    df = spark.createDataFrame(
        [(1, "the the the"), (2, "café")], "doc_id long, text string"
    )
    # no merges: pure byte ids
    out = {r.doc_id: r for r in tp.bpe_encode(df, []).collect()}
    assert out[1].ids_head == "116,104,101,32,116,104,101,32,116,104,101"
    assert out[1].n_tokens == 11
    assert out[2].ids_head == "99,97,102,195,169"  # é = 0xC3 0xA9
    # with merges: ('t','h')->256, ('th','e')->257, ('Ġ','the')->258
    merges = [("t", "h"), ("th", "e"), ("Ġ", "the")]
    out = {r.doc_id: r for r in tp.bpe_encode(df, merges).collect()}
    assert out[1].ids_head == "257,258,258" and out[1].n_tokens == 3
    # vocab table: first-rank-wins on string collisions
    ids = tp.bpe_vocab_ids([("a", "bc"), ("ab", "c")])
    assert ids["abc"] == 256


def test_byte_bpe_encode_decode_lossless(spark):
    """decode(encode(text)) == text for adversarial Unicode — the
    no-UNK, no-normalization-loss property byte-level BPE exists for,
    with and without trained merges."""
    from kusto_pre_forge_spark.operators import textprep as tp

    tricky = [
        "plain ascii",
        "多字节中文与日本語のテキスト",
        "emoji 🙂🧿 and zwj 👩‍🚀 sequences",
        "combining áë marks",
        "tabs\tnewlines\n\nand  runs   of spaces",
        "don't stop 'tis the contraction's test",
        "mixed 123 numbers and !?#$ punct",
        " nbsp and  line-sep para-sep",
        "",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(tricky)], "doc_id long, text string"
    )
    for merges in ([], tp.train_bpe(df, n_merges=8, byte_level=True)):
        got = {
            r.doc_id: list(r.ids)
            for r in tp.bpe_encode_arrays(df, merges).collect()
        }
        for i, t in enumerate(tricky):
            ids = got.get(i, [])
            assert tp.bpe_decode_ids(ids, merges) == t, (i, t, merges)


# --- latex_extract ------------------------------------------------------------

LATEX_VECTORS = [
    ("\\section{Intro}\nbody", "Intro\nbody"),
    (r"A \textbf{bold \emph{nested}} word", "A bold nested word"),
    ("pre % comment\npost", "pre\npost"),
    (r"100\% and \& and \_ and \$5", "100% and & and _ and $5"),
    (r"math $x^2$ here", "math here"),
    ("disp $$x$$ and \\[y\\] gone", "disp and gone"),
    ("\\begin{equation}\nE=mc^2\n\\end{equation}after", "after"),
    ("\\begin{verbatim}\nraw $x$ {y}\n\\end{verbatim}kept", "kept"),
    (r"see \cite{a} and \ref{b} end", "see and end"),
    ("\\begin{itemize}\n\\item one\n\\item two\n\\end{itemize}", "one\ntwo"),
    (r"tie~break and a\\ split", "tie break and a split"),
    (r"\unknowncmd[opt]{x} tail", "x tail"),
]


@pytest.mark.parametrize("src,want", LATEX_VECTORS)
def test_latex_rules_vectors(spark, src, want):
    from pyspark.sql import functions as F

    from kusto_pre_forge_spark.operators.textprep import latex_extract

    df = spark.range(1).select(
        F.col("id").alias("doc_id"), F.lit(src).alias("t")
    )
    got = latex_extract(df, "t", "doc_id").collect()[0]["content"]
    assert got == want


def test_latex_counts(spark):
    from pyspark.sql import functions as F

    from kusto_pre_forge_spark.operators.textprep import latex_extract

    df = spark.range(1).select(
        F.col("id").alias("doc_id"),
        F.lit(r"\title{x} $a$ $$b$$ \cite{c}").alias("t"),
    )
    row = latex_extract(df, "t", "doc_id").collect()[0]
    assert row["n_commands"] == 2  # \title, \cite
    # $a$ counts its two singles; $$b$$ counts as two $$ (alternation
    # puts $$ first so doubles never split)
    assert row["n_math_delims"] == 4


def test_latex_rules_duckdb_parity():
    """Every LATEX_RULES pattern must be RE2-compatible and produce the
    same output in DuckDB as in Python/Java regex over the vectors (the
    engine-shared-rules guarantee the oracle relies on)."""
    import re

    import duckdb

    from kusto_pre_forge_spark.operators.textprep import LATEX_RULES

    con = duckdb.connect()
    for src, _ in LATEX_VECTORS:
        py = src
        for pat, spark_repl, _duck in LATEX_RULES:
            py = re.sub(
                pat, spark_repl.replace("$1", "\\1").replace("\\$", "$"), py
            )
        expr = "t"
        for pat, _spark, duck_repl in LATEX_RULES:
            p = pat.replace("'", "''")
            r = (
                "chr(10) || chr(10)"
                if duck_repl == "\n\n"
                else "'" + duck_repl.replace("'", "''") + "'"
            )
            expr = f"regexp_replace({expr}, '{p}', {r}, 'g')"
        duck = con.execute(
            f"SELECT trim({expr}) FROM (SELECT ? AS t)", [src]
        ).fetchone()[0]
        assert duck == py.strip(), src


# --- pii_scrub_extended --------------------------------------------------------


def test_pii_extended_luhn_and_patterns(spark):
    from kusto_pre_forge_spark.operators.textprep import pii_scrub_extended

    rows = spark.createDataFrame(
        [
            (1, "mail bob@x.io card 4111 1111 1111 1111 end"),
            # Luhn-fail twin and a 13-digit ISBN (not Luhn-valid) stay
            (2, "fake 4111 1111 1111 1112 stays, isbn 9780306406157 ok"),
            (3, "ip 192.168.0.1 and phone +1 (555) 123-4567 done"),
            # invalid octet is NOT an IP; short +NN run is NOT a phone
            (4, "octets 999.1.1.1 not ip; +12 prose 123"),
            # amex (15 digits, Luhn-valid) with dashes
            (5, "amex 3782-822463-10005 pays"),
            (6, None),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in pii_scrub_extended(rows, "text", "doc_id").collect()
    }
    assert out[1]["scrubbed"] == "mail <EMAIL> card <CC> end"
    assert out[1]["n_emails"] == 1 and out[1]["n_ccs"] == 1
    assert out[2]["scrubbed"] == (
        "fake 4111 1111 1111 1112 stays, isbn 9780306406157 ok"
    )
    assert out[2]["n_ccs"] == 0
    assert out[3]["scrubbed"] == "ip <IP> and phone <PHONE> done"
    assert out[4]["scrubbed"] == "octets 999.1.1.1 not ip; +12 prose 123"
    assert out[5]["scrubbed"] == "amex <CC> pays"
    assert out[6]["scrubbed"] == ""


def test_pii_extended_is_codegen_projection(spark):
    from kusto_pre_forge_spark.operators.textprep import pii_scrub_extended

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    plan = (
        pii_scrub_extended(df, "text", "doc_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_gpt2_tokenizer_export_import_roundtrip(tmp_path):
    """The trainer hand-off's last mile: exported vocab.json +
    merges.txt reload into the SAME merges and id table, byte for
    byte, through real files on disk."""
    from kusto_pre_forge_spark.operators import textprep as T

    merges = [("h", "e"), ("l", "l"), ("he", "ll"), ("hell", "o"),
              ("Ġ", "t"), ("Ġt", "he")]
    vocab, lines = T.export_gpt2_tokenizer(merges, str(tmp_path))
    assert (tmp_path / "vocab.json").exists()
    assert (tmp_path / "merges.txt").read_text(encoding="utf-8").startswith(
        "#version: 0.2\n"
    )
    m2, v2 = T.import_gpt2_tokenizer(
        str(tmp_path / "vocab.json"), str(tmp_path / "merges.txt")
    )
    assert m2 == merges and v2 == vocab
    # every base byte symbol is present with its raw-byte id
    assert v2["a"] == ord("a") and len([i for i in v2.values() if i < 256]) == 256


def test_gpt2_import_foreign_vocab_is_authoritative():
    """vocab.json ids win over the derived table (the HF contract): a
    permuted foreign id assignment encodes AND decodes losslessly."""
    from kusto_pre_forge_spark.operators import textprep as T

    merges = [("h", "e"), ("he", "y")]
    vocab, lines = T.export_gpt2_tokenizer(merges)
    foreign = {tok: 50000 - i for tok, i in vocab.items()}
    m2, v2 = T.import_gpt2_tokenizer(foreign, lines)
    text = "hey hé ✓"
    # encode via the UDF's inner path: use decode as the witness
    ids = []
    b2u = T._bytes_to_unicode()
    toks = [b2u[b] for b in text.encode("utf-8")]
    for a, b in m2:
        out, i = [], 0
        while i < len(toks):
            if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
                out.append(a + b); i += 2
            else:
                out.append(toks[i]); i += 1
        toks = out
    ids = [v2[t] for t in toks]
    assert T.bpe_decode_ids(ids, m2, vocab_ids=v2) == text


def test_gpt2_import_validation():
    from kusto_pre_forge_spark.operators import textprep as T

    merges = [("a", "b")]
    vocab, lines = T.export_gpt2_tokenizer(merges)
    import pytest as _pt

    with _pt.raises(ValueError, match="malformed"):
        T.import_gpt2_tokenizer(vocab, lines + ["a b c"])
    bad = dict(vocab)
    del bad["ab"]
    with _pt.raises(ValueError, match="absent"):
        T.import_gpt2_tokenizer(bad, lines)


def test_hf_tokenizer_json_roundtrip(tmp_path):
    """tokenizer.json (the single-file HF fast-tokenizer artifact)
    roundtrips the SAME tables as the legacy vocab.json+merges.txt
    pair — export → import → identical merges and id table, via a
    real file on disk, cross-checked against the pair on the same
    vocabulary."""
    from kusto_pre_forge_spark.operators import textprep as T

    merges = [("h", "e"), ("l", "l"), ("he", "ll"), ("hell", "o"),
              ("Ġ", "t"), ("Ġt", "he")]
    path = str(tmp_path / "tokenizer.json")
    text = T.export_hf_tokenizer(merges, path)
    import json

    obj = json.loads(text)
    assert obj["model"]["type"] == "BPE"
    assert obj["pre_tokenizer"]["type"] == "ByteLevel"
    m2, v2 = T.import_hf_tokenizer(path)
    assert m2 == merges
    # cross-check: identical tables to the legacy pair
    vocab, lines = T.export_gpt2_tokenizer(merges, str(tmp_path))
    m3, v3 = T.import_gpt2_tokenizer(
        str(tmp_path / "vocab.json"), str(tmp_path / "merges.txt")
    )
    assert (m2, v2) == (m3, v3)


def test_hf_tokenizer_json_merge_array_format_and_added_tokens():
    """tokenizers >= 0.20 writes merges as [a, b] ARRAYS; added_tokens
    fold into the id table; Sequence pre-tokenizers containing
    ByteLevel are accepted."""
    from kusto_pre_forge_spark.operators import textprep as T

    import json

    merges = [("a", "b"), ("ab", "c")]
    obj = json.loads(T.export_hf_tokenizer(merges))
    obj["model"]["merges"] = [list(m.split(" ")) for m in obj["model"]["merges"]]
    obj["added_tokens"] = [{"id": 50256, "content": "<|endoftext|>"}]
    obj["pre_tokenizer"] = {
        "type": "Sequence",
        "pretokenizers": [{"type": "ByteLevel", "add_prefix_space": False}],
    }
    m2, v2 = T.import_hf_tokenizer(obj)
    assert m2 == merges
    assert v2["<|endoftext|>"] == 50256
    assert v2["ab"] == T.bpe_vocab_ids(merges)["ab"]


def test_hf_tokenizer_json_refusals():
    """Non-BPE models and non-ByteLevel pre-tokenizers refuse BY NAME
    — encoding a Unigram/Metaspace file with byte-BPE would be silent
    corruption."""
    from kusto_pre_forge_spark.operators import textprep as T

    import json
    import pytest as _pt

    obj = json.loads(T.export_hf_tokenizer([("a", "b")]))
    uni = dict(obj)
    uni["model"] = {"type": "Unigram", "vocab": []}
    with _pt.raises(ValueError, match="Unigram"):
        T.import_hf_tokenizer(uni)
    meta = json.loads(T.export_hf_tokenizer([("a", "b")]))
    meta["pre_tokenizer"] = {"type": "Metaspace"}
    with _pt.raises(ValueError, match="Metaspace|ByteLevel"):
        T.import_hf_tokenizer(meta)
    missing = json.loads(T.export_hf_tokenizer([("a", "b")]))
    del missing["model"]["vocab"]["ab"]
    with _pt.raises(ValueError, match="absent"):
        T.import_hf_tokenizer(missing)


def test_fix_encoding_repairs_mojibake(spark):
    """ftfy-lite: single- and double-encoded UTF-8-as-cp1252 repairs
    exactly; legitimate Latin-1-looking text and clean text are never
    touched (UTF-8 validity is the safety filter); C1 gremlins map
    through cp1252; C0 controls strip (tab/LF/CR kept)."""
    from kusto_pre_forge_spark.operators import textprep as T

    orig = "café — “naïve” ✓ 日本語"
    moji = "".join(T._SLOPPY_CP1252[b] for b in orig.encode("utf-8"))
    double = "".join(T._SLOPPY_CP1252[b] for b in moji.encode("utf-8"))
    assert T.fix_text_value(moji) == (orig, 1)
    assert T.fix_text_value(double) == (orig, 2)
    assert T.fix_text_value(orig) == (orig, 0)
    assert T.fix_text_value("plain ascii") == ("plain ascii", 0)
    # a real word with a bare é is NOT valid UTF-8 when re-encoded —
    # never modified by the mojibake pass
    assert T.fix_text_value("café")[1] == 0
    assert T.fix_text_value("a\x93quoted\x94b")[0] == "a“quoted”b"
    assert T.fix_text_value("a\x00b\tc\r\n")[0] == "ab\tc\r\n"
    # NFC: decomposed e + combining acute folds to é
    assert T.fix_text_value("café")[0] == "café"
    # Spark surface: one Arrow map stage, null-safe
    df = spark.createDataFrame(
        [(1, moji), (2, orig), (3, None)], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in T.fix_encoding(df).collect()}
    assert rows[1].fixed == orig and rows[1].n_mojibake_passes == 1
    assert rows[1].was_fixed
    assert rows[2].fixed == orig and not rows[2].was_fixed
    assert rows[3].fixed == "" and not rows[3].was_fixed
    plan = T.fix_encoding(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # pure map stage


def test_canonicalize_url_vectors(spark):
    """The crawl dedup key: case, default-port strip, kept explicit
    port, userinfo drop, param sort + tracker strip, fragment drop,
    empty-path '/', NULL for non-absolute — and idempotency."""
    from kusto_pre_forge_spark.operators.textprep import canonicalize_url

    cases = [
        ("HTTP://Site.COM:80/p?b=2&utm_source=x&a=1#sec",
         "http://site.com/p?a=1&b=2"),
        ("http://site.com/p?a=1&b=2", "http://site.com/p?a=1&b=2"),
        ("https://Site.com:443/", "https://site.com/"),
        ("https://site.com:8443/x", "https://site.com:8443/x"),
        ("https://user:pw@site.com/x", "https://site.com/x"),
        ("http://site.com", "http://site.com/"),
        ("http://site.com?gclid=z&REF=t&c=3", "http://site.com/?c=3"),
        ("ftp://Host/En", "ftp://host/En"),  # path case preserved
        ("not a url", None),
        ("/relative/only", None),
        ("http://site.com/p?", "http://site.com/p"),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)], "i long, u string"
    )
    got = {
        r.i: r.c
        for r in df.select("i", canonicalize_url("u").alias("c")).collect()
    }
    for i, (u, want) in enumerate(cases):
        assert got[i] == want, (u, got[i], want)
    twice = df.select(
        canonicalize_url("u").alias("c1"),
        canonicalize_url(canonicalize_url("u")).alias("c2"),
    )
    assert all(r.c1 == r.c2 for r in twice.collect())
    plan = (
        df.select(canonicalize_url("u"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan  # pure codegen projection
