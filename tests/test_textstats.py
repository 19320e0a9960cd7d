"""Text-analysis operators: token counts, quality, language id, fingerprint."""

import pytest
from pyspark.sql import functions as F

from kusto_pre_forge_spark.operators import textstats


def test_token_counts(spark):
    df = spark.createDataFrame([("hello world  foo",), ("one2three, four!",)], ["t"])
    r = df.select(
        textstats.token_count("t").alias("ws"),
        textstats.bpe_token_count("t").alias("bpe"),
    ).collect()
    assert r[0].ws == 3 and r[0].bpe == 3
    # one2three, four! → [one][2][three][,][four][!] = 6
    assert r[1].ws == 2 and r[1].bpe == 6


def test_lang_id(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog sat in the house"),
            (2, "der Hund und die Katze ist nicht hier"),
            (3, "el perro y la casa es de madera que"),
            (4, "zzz qqq xxx"),
        ],
        ["id", "t"],
    )
    out = {r.id: r.lang for r in df.select("id", textstats.lang_id("t").alias("lang")).collect()}
    assert out == {1: "en", 2: "de", 3: "es", 4: "und"}


def test_lang_id_custom_profiles_kwarg(spark):
    """ADVICE r9 #5: lang_id keeps its pre-round-9 `profiles` escape
    hatch — custom profiles bypass the script gate and score over the
    Latin normalizer, argmax wins, zero evidence → 'und'."""
    profiles = {
        "meow": ["meo", "eow", " me"],
        "woof": ["woo", "oof", " wo"],
    }
    df = spark.createDataFrame(
        [(1, "meow meow meow"), (2, "woof woof"), (3, "zzz qqq")],
        ["id", "t"],
    )
    out = {
        r.id: r.lang
        for r in df.select(
            "id", textstats.lang_id("t", profiles=profiles).alias("lang")
        ).collect()
    }
    assert out == {1: "meow", 2: "woof", 3: "und"}


def test_lang_id_subword_morphology_where_markers_fail(spark):
    """The char-trigram profiles classify SHORT text with ZERO stopwords
    — wrong-language quotes, bare content words, code-mixed lines — where
    the old marker-word heuristic returned 'und' or guessed. Evidence is
    sub-word ('sch', 'ció', 'aux', 'ing')."""
    df = spark.createDataFrame(
        [
            (1, "schneiden verschwinden Geschichte"),      # de morphology
            (2, "información organización civilización"),  # es -ción
            (3, "beaux chevaux travaux journaux"),         # fr -aux/-eaux
            (4, "running jumping thinking showing"),       # en -ing
            (5, "x = get_value(row); // checks the things"),  # code-mixed: en
            (6, "¡!¿? 12345 +++"),                         # symbols only
        ],
        ["id", "t"],
    )
    out = {
        r.id: r.lang
        for r in df.select("id", textstats.lang_id("t").alias("lang")).collect()
    }
    assert out == {1: "de", 2: "es", 3: "fr", 4: "en", 5: "en", 6: "und"}
    # scores map exposes the evidence; the winner's score is the max
    s = df.filter("id = 2").select(
        textstats.lang_scores("t").alias("s")
    ).first().s
    assert s["es"] == max(s.values()) and s["es"] > 0


def test_quality_features(spark):
    df = spark.createDataFrame(
        [(1, "The quick brown fox jumps over the lazy dog with plenty of words to spare today"),
         (2, "!!! ??? *** 123 456 789 !!!")],
        ["id", "t"],
    )
    rows = {r.id: r for r in textstats.quality_features(df, "t").collect()}
    good, bad = rows[1], rows[2]
    assert good.quality_score > bad.quality_score
    assert bad.punct_ratio > 0.2 and bad.digit_ratio > 0.2
    assert good.stopword_ratio > 0
    assert good.n_tokens == 16


def test_doc_fingerprint_stability_and_sensitivity(spark):
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta"),  # identical
            (3, "alpha beta gamma delta epsilon eta"),  # tail edit
            (4, "totally different words entirely here now"),
        ],
        ["id", "t"],
    )
    fps = {r.id: r.fp for r in df.select("id", textstats.doc_fingerprint("t").alias("fp")).collect()}
    assert fps[1] == fps[2]
    assert fps[1] != fps[4]
    # min-hash winnowing: a tail edit usually preserves the minimizing k-gram
    # (not guaranteed — just assert determinism here)
    assert isinstance(fps[3], int)


def test_text_profile_on_documents(spark, sf_smoke):
    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    prof = textstats.text_profile(docs, "text", "doc_id")
    assert prof.count() == docs.count()
    row = prof.filter(F.col("doc_id") == 0).collect()[0]
    assert row.n_tokens > 0 and row.fingerprint is not None
    assert 0.0 <= row.quality_score <= 1.0


def test_lm_score_hand_computed(spark):
    import math

    from kusto_pre_forge_spark.operators.textstats import lm_score

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b"), (3, "z"), (4, "")],
        "doc_id long, text string",
    )
    # bigrams: doc1: ab, ba, ab ; doc2: ab  -> c(ab)=3, c(ba)=1
    # contexts: c(a.)=3, c(b.)=1 ; V = distinct tokens {a,b,z} = 3
    out = {r.doc_id: r for r in lm_score(df, "text", "doc_id", add_k=0.5).collect()}
    p_ab = (3 + 0.5) / (3 + 0.5 * 3)
    p_ba = (1 + 0.5) / (1 + 0.5 * 3)
    assert out[1].n_bigrams == 3
    assert out[1].lm_score == pytest.approx(
        (2 * math.log(p_ab) + math.log(p_ba)) / 3
    )
    assert out[2].lm_score == pytest.approx(math.log(p_ab))
    assert 3 not in out and 4 not in out, "docs without bigrams are omitted"


def test_bm25_topk_ranking(spark):
    import math

    docs = spark.createDataFrame(
        [
            (1, "spark spark spark"),          # high tf, short doc
            (2, "spark window"),               # two distinct query terms
            (3, "window table table table table table table"),  # long doc
            (4, "table scan only"),            # no query term
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in textstats.bm25_topk(docs, ["spark", "window"], k=10).collect()
    }
    assert 4 not in out, "docs matching no query term never appear"
    assert out[2].matched_terms == 2 and out[1].matched_terms == 1
    # doc 2 matches both terms and is short → best score
    assert out[2].bm25 == max(r.bm25 for r in out.values())
    # hand-check doc 1: tf=3, dl=3, N=4, avgdl=15/4, df(spark)=2
    idf = math.log(1.0 + (4.0 - 2.0 + 0.5) / 2.5)
    w = idf * (3.0 * 2.2) / (3.0 + 1.2 * (0.25 + 0.75 * 3.0 / 3.75))
    assert out[1].bm25 == pytest.approx(w, abs=1e-6)


def test_bm25_k_limits_and_ties(spark):
    docs = spark.createDataFrame(
        [(i, "spark") for i in range(5)], "doc_id long, text string"
    )
    rows = textstats.bm25_topk(docs, ["spark"], k=3).collect()
    # identical scores → id ascending tiebreak, exactly k rows
    assert [r.doc_id for r in rows] == [0, 1, 2]


def test_quality_classifier_score(spark):
    from kusto_pre_forge_spark.operators.textstats import (
        quality_classifier_score,
    )

    rows = [
        (1, "the cat sat on the mat and it was pleased with the result"),
        (2, "3141592653 2718281828 1414213562 1732050807 2236067977"),
        (3, "!!! ### $$$ %%% ^^^ &&& *** ((( ))) @@@"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in quality_classifier_score(df).collect()}
    assert 0.0 < out[3].lr_score < out[2].lr_score < out[1].lr_score < 1.0
    assert out[1].keep and not out[2].keep and not out[3].keep
    # weight override shifts the decision boundary
    harsh = {
        r.doc_id: r.keep
        for r in quality_classifier_score(
            df, bias=-30.0
        ).collect()
    }
    assert not any(harsh.values()), "bias -30 rejects everything"


def test_gopher_quality_rules(spark):
    """Gopher App-A1.1 rules: a normal doc passes; bullet/symbol-heavy and
    stopword-free docs fail the specific rule that targets them."""
    from kusto_pre_forge_spark.operators.textstats import gopher_quality

    good = ("The quick brown fox and the lazy dog have fun with all of "
            "that today. ") * 10
    df = spark.createDataFrame(
        [
            (1, good),
            (2, "- b\n- c\n####"),            # bullets + symbols, no stopwords
            (3, "word " * 60),                 # no alpha issue but 0 stopword hits
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in gopher_quality(df).collect()}
    assert rows[1].passes_gopher
    # DISTINCT stop words present: the, and, of, that, have, with -> 6
    assert rows[1].n_words == 150 and rows[1].stop_word_hits == 6
    assert not rows[2].passes_gopher
    assert rows[2].bullet_line_frac == 0.666667
    assert not rows[3].passes_gopher and rows[3].stop_word_hits == 0


def test_c4_filters_rules(spark):
    from kusto_pre_forge_spark.operators.textstats import c4_filters

    df = spark.createDataFrame(
        [
            (1, "A good long sentence here.\nshort\nAnother fine sentence "
                "with words!\nUses javascript heavily today."),
            (2, "Lorem ipsum dolor sit. More text here. And more!"),
            (3, "function f() { return 1; }. Two more sentences. Right here!"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in c4_filters(df).collect()}
    assert rows[1].n_lines == 4 and rows[1].n_kept_lines == 2
    assert rows[1].cleaned_text == (
        "A good long sentence here.\nAnother fine sentence with words!"
    )
    assert not rows[2].passes_c4 and rows[2].has_lorem
    assert not rows[3].passes_c4 and rows[3].has_brace


def _ccnet_corpus(spark):
    # 6 english docs with clearly graded bigram typicality: repeated
    # common transitions score high, one-off gibberish scores low
    rows = [
        (1, "the cat sat on the mat and the cat sat again"),
        (2, "the cat sat on the mat and the dog sat too"),
        (3, "the dog sat on the mat near the cat today"),
        (4, "the cat ran on the mat and the dog ran off"),
        (5, "mat cat zz qq the pp ww sat ee rr on"),
        (6, "qq ww ee rr tt yy uu the ii oo cat"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "t"])


def test_ccnet_buckets_exact(spark):
    out = textstats.ccnet_buckets(_ccnet_corpus(spark), "t", "doc_id")
    rows = {r.doc_id: r for r in out.collect()}
    assert len(rows) == 6
    # every doc gets a bucket and a language
    assert {r.ppl_bucket for r in rows.values()} == {"head", "middle", "tail"}
    # bucket ordering tracks lm_score within a language: every head doc
    # scores >= every tail doc of the same language
    by_lang = {}
    for r in rows.values():
        by_lang.setdefault(r.lang_pred, []).append(r)
    for grp in by_lang.values():
        heads = [r.lm_score for r in grp if r.ppl_bucket == "head"]
        tails = [r.lm_score for r in grp if r.ppl_bucket == "tail"]
        if heads and tails:
            assert min(heads) >= max(tails)
    # gibberish-transition docs land in tail for their language group
    tail_ids = {r.doc_id for r in rows.values() if r.ppl_bucket == "tail"}
    assert 5 in tail_ids or 6 in tail_ids


def test_ccnet_buckets_approx_agrees_on_clear_margins(spark):
    df = _ccnet_corpus(spark)
    exact = {
        r.doc_id: r.ppl_bucket
        for r in textstats.ccnet_buckets(df, "t", "doc_id").collect()
    }
    approx = {
        r.doc_id: r.ppl_bucket
        for r in textstats.ccnet_buckets(df, "t", "doc_id", approx=True).collect()
    }
    assert set(exact) == set(approx)
    # high-resolution t-digest on a tiny set: cuts are exact, buckets agree
    # except possibly rows exactly on a cut; require >= 2/3 agreement
    agree = sum(exact[k] == approx[k] for k in exact)
    assert agree >= (2 * len(exact)) // 3


def test_ccnet_buckets_omits_sub_bigram_docs(spark):
    df = spark.createDataFrame(
        [(1, "single"), (2, "the cat sat"), (3, "the cat sat on mats")],
        ["doc_id", "t"],
    )
    ids = {r.doc_id for r in textstats.ccnet_buckets(df, "t", "doc_id").collect()}
    assert ids == {2, 3}


def test_oov_rate_counts_and_zero_token_docs(spark):
    from kusto_pre_forge_spark.operators import textstats as ts

    docs = spark.createDataFrame(
        [(1, "the cat sat"), (2, "zork the blee"), (3, "   ")],
        "doc_id long, text string",
    )
    vocab = spark.createDataFrame([("the",), ("cat",), ("sat",)], "word string")
    got = {r.doc_id: r for r in ts.oov_rate(docs, vocab, "text", "doc_id").collect()}
    assert (got[1].n_tokens, got[1].n_oov, got[1].oov_rate) == (3, 0, 0.0)
    assert (got[2].n_tokens, got[2].n_oov) == (3, 2)
    assert abs(got[2].oov_rate - round(2 / 3, 6)) < 1e-12
    # whitespace-only doc: zero tokens, rate 0, row NOT dropped
    assert (got[3].n_tokens, got[3].n_oov, got[3].oov_rate) == (0, 0, 0.0)


def test_char_entropy_known_values(spark):
    import math

    from kusto_pre_forge_spark.operators import textstats as ts

    df = spark.createDataFrame(
        [(1, "aaaa"), (2, "abab"), (3, "abcd"), (4, "")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.h for r in df.select(
        "doc_id", ts.char_entropy("text").alias("h")).collect()}
    assert got[1] == 0.0                       # single char -> 0
    assert got[2] == round(math.log(2), 6)     # uniform over 2 chars
    assert got[3] == round(math.log(4), 6)     # uniform over 4 chars
    assert got[4] == 0.0                       # empty -> 0, not NULL


def test_lang_id_latin_family_languages(spark):
    """One clearly-in-language sentence per Latin-script profile — each
    must win against all the others."""
    fixtures = {
        "en": "the quick brown fox is jumping over the lazy dog with all things",
        "de": "der schnelle braune fuchs ist über den faulen hund gesprungen und die geschichte",
        "es": "la ciudad de la información es que los parques son por la organización",
        "fr": "les beaux chevaux de la ville sont dans une maison pour que les eaux",
        "it": "la città della informazione che per gli amici sono condizione degli anni",
        "pt": "a cidade da informação com uma grande população que pode ser do governo",
        "nl": "het is een van de grootste dingen die wij ooit hebben gezien in het land",
        "sv": "det är en av de största sakerna som vi har sett och det kommer att",
        "da": "han sagde at det ikke er muligt at gøre det uden at være til stede og med sig",
        "pl": "nie wiem czy to jest największe z przedsięwzięć które widzieliśmy się",
        "cs": "je to jedna z největších věcí které jsme kdy viděli a není to pro nás",
        "ro": "este unul dintre cele mai mari lucruri pe care le-am văzut în țară pentru",
        "tr": "bu bizim gördüğümüz en büyük şeylerden biri ve bunlar onların arasında yer",
        "id": "ini adalah salah satu hal terbesar yang pernah kami lihat dan akan menjadi",
        "hu": "ez az egyik legnagyobb dolog amit valaha láttunk és ez meg fog történni",
        "fi": "se on yksi suurimmista asioista joita olemme koskaan nähneet ja se on",
        "vi": "đây là một trong những điều tuyệt vời nhất mà chúng tôi từng thấy và của người này",
    }
    df = spark.createDataFrame(
        [(k, v) for k, v in fixtures.items()], ["want", "t"]
    )
    rows = df.select(
        "want", textstats.lang_id("t").alias("got")
    ).collect()
    wrong = {r.want: r.got for r in rows if r.want != r.got}
    assert not wrong, f"misclassified: {wrong}"


def test_lang_id_script_gate(spark):
    """Non-Latin scripts route by codepoint-range majority: Cyrillic to
    the ru/uk trigram profiles, block-exclusive scripts directly."""
    fixtures = [
        ("ru", "это одно из самых больших что мы когда-либо видели в стране"),
        ("uk", "це одна з найбільших речей які ми коли-небудь бачили від того що"),
        ("el", "αυτό είναι ένα από τα μεγαλύτερα πράγματα που έχουμε δει ποτέ"),
        ("ar", "هذا واحد من أكبر الأشياء التي رأيناها على الإطلاق في البلاد"),
        ("he", "זה אחד הדברים הגדולים ביותר שראינו אי פעם במדינה הזאת"),
        ("hi", "यह अब तक देखी गई सबसे बड़ी चीजों में से एक है"),
        ("th", "นี่คือหนึ่งในสิ่งที่ยิ่งใหญ่ที่สุดที่เราเคยเห็น"),
        ("zh", "这是我们所见过的最伟大的事情之一在这个国家里"),
        ("ja", "これは私たちが見た中で最も素晴らしいものの一つです"),
        ("ko", "이것은 우리가 본 것 중 가장 위대한 것 중 하나입니다"),
        ("und", "12345 +++ !!! ???"),
        ("und", None),
    ]
    df = spark.createDataFrame(fixtures, ["want", "t"])
    rows = df.select("want", textstats.lang_id("t").alias("got")).collect()
    wrong = [(r.want, r.got) for r in rows if r.want != r.got]
    assert not wrong, f"misrouted: {wrong}"


def test_lang_id_mixed_script_majority(spark):
    """The gate is a MAJORITY vote: a mostly-English line quoting two
    Cyrillic words stays English; kana presence flips Han text to ja."""
    df = spark.createDataFrame(
        [
            (1, "the report from москва said that the weather is nice and all things are"),
            (2, "日本語のテキストです"),  # han + kana -> ja
        ],
        ["id", "t"],
    )
    out = {r.id: r.got for r in df.select(
        "id", textstats.lang_id("t").alias("got")).collect()}
    assert out == {1: "en", 2: "ja"}


def test_gopher_rule_attribution_hand_counts(spark):
    """fail vs fail_only on a hand-built corpus: one doc failing ONLY
    the word floor, one failing everything, one clean."""
    from kusto_pre_forge_spark.operators import textstats as ts

    good = ("the quick brown fox jumps with " * 12).strip()  # 72 words
    short = "the fox and that dog have been here with all of the others"
    junk = "### ### ### ### ###"
    df = spark.createDataFrame(
        [(1, good, "a"), (2, short, "a"), (3, junk, "b")],
        "doc_id long, text string, source string",
    )
    out = {
        (r.grp, r.rule): r
        for r in ts.gopher_rule_attribution(df).collect()
    }
    assert len(out) == 2 * 7  # groups x rules
    # source a: the short doc fails ONLY the word floor
    r = out[("a", "words")]
    assert (r.n_docs, r.n_fail, r.n_fail_only) == (2, 1, 1)
    assert out[("a", "symbol_ratio")].n_fail == 0
    # source b: junk fails words AND symbol AND alpha AND stop-words ->
    # nothing is a sole cause
    assert out[("b", "words")].n_fail == 1
    assert out[("b", "words")].n_fail_only == 0
    assert out[("b", "alpha_words")].n_fail == 1


def test_c4_rule_attribution_hand_counts(spark):
    """The C4 twin of the gopher attribution: sole-cause vs any-cause
    fail counts per rule."""
    from kusto_pre_forge_spark.operators import textstats as ts

    clean = "First line is long enough to pass. Second proper line here. Third one too."
    lorem_only = "lorem ipsum dolor sit amet. A fine sentence here. And another one. Plus one more."
    junk = "short {"
    df = spark.createDataFrame(
        [(1, clean, "a"), (2, lorem_only, "a"), (3, junk, "b")],
        "doc_id long, text string, source string",
    )
    out = {(r.grp, r.rule): r for r in ts.c4_rule_attribution(df).collect()}
    assert len(out) == 2 * 4
    # doc 2 fails ONLY the lorem rule
    r = out[("a", "no_lorem")]
    assert (r.n_docs, r.n_fail, r.n_fail_only) == (2, 1, 1)
    assert out[("a", "no_brace")].n_fail == 0
    # junk fails brace AND sentences AND kept-lines -> no sole cause
    assert out[("b", "no_brace")].n_fail == 1
    assert out[("b", "no_brace")].n_fail_only == 0
    assert out[("b", "min_sentences")].n_fail == 1


def test_langid_eval_fixture_tiers():
    """The accuracy harness's regression net: the long-sentence tier
    must stay at 100% for all 25 languages (a profile edit that breaks
    one fails here), the short tier's measured accuracy is pinned (the
    Romance/Slavic confusions are known misses the harness quantifies,
    not bugs), and the adversarial rows behave as documented."""
    from kusto_pre_forge_spark.operators.textstats import (
        LANGID_EVAL_FIXTURE,
        _langid_batch,
    )

    by_tier = {}
    for lang, tier, text in LANGID_EVAL_FIXTURE:
        by_tier.setdefault(tier, []).append((lang, text))

    # 27 labels (17 Latin + 2 Cyrillic + 5 script-direct + ja/ko/zh),
    # each with one long and one short sample
    assert len(by_tier["long"]) == 27 and len(by_tier["short"]) == 27
    assert len({l for l, _ in by_tier["long"]}) == 27

    def acc(rows):
        preds = _langid_batch([t for _, t in rows])
        return sum(p == l for (l, _), p in zip(rows, preds)), len(rows)

    ok_long, n_long = acc(by_tier["long"])
    assert (ok_long, n_long) == (27, 27), "long tier must be perfect"
    ok_short, n_short = acc(by_tier["short"])
    # measured 2026-08-15: fr→it, it→fi, pl→cs, ro→fi are real
    # short-text confusions; a profile edit that changes this count in
    # EITHER direction should be a conscious decision
    assert (ok_short, n_short) == (23, 27), (ok_short, n_short)
    ok_adv, n_adv = acc(by_tier["adversarial"])
    assert (ok_adv, n_adv) == (5, 6), (ok_adv, n_adv)  # es compound → tr


def test_langid_eval_operator(spark):
    """langid_eval's metric arithmetic on a tiny hand-checked frame:
    full-outer semantics (a language only predicted gets NULL recall,
    one never predicted gets NULL prec)."""
    from kusto_pre_forge_spark.operators import textstats as ts

    df = spark.createDataFrame(
        [
            (1, "en", "Today is a beautiful day and we are going to walk through the city because the sun is shining."),
            (2, "en", "zzz qqq xxx"),  # -> und
            (3, "de", "Heute ist ein schöner Tag und wir werden durch die Stadt spazieren, weil die Sonne scheint."),
        ],
        "doc_id long, true_lang string, text string",
    )
    rows = {r.lang: r for r in ts.langid_eval(df, "text", "true_lang").collect()}
    assert rows["en"].n_true == 2 and rows["en"].n_pred == 1
    assert rows["en"].n_correct == 1
    assert rows["en"].prec == 1.0 and rows["en"].recall == 0.5
    assert rows["de"].prec == 1.0 and rows["de"].recall == 1.0
    assert rows["und"].n_true == 0 and rows["und"].n_pred == 1
    assert rows["und"].recall is None and rows["und"].prec == 0.0


def test_lm_score_stupid_backoff_hand_computed(spark):
    """Brants et al. backoff tiers pinned by hand: seen trigram uses the
    raw ratio, unseen trigram backs off through bigram → unigram → OOV
    floor with alpha factors; sub-3-token docs are omitted."""
    import math

    from kusto_pre_forge_spark.operators.textstats import (
        lm_score_stupid_backoff,
    )

    corpus = spark.createDataFrame(
        [(100, "a b c a b c"), (101, "a b d")], "doc_id long, text string"
    )
    # corpus trigrams: abc:2 bca:1 cab:1 abd:1 → N=5
    test = spark.createDataFrame(
        [(1, "a b c"), (2, "x a b c"), (3, "z z q"), (4, "a b")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in lm_score_stupid_backoff(
            test, "text", "doc_id", corpus=corpus
        ).collect()
    }
    assert out[1].n_trigrams == 1
    assert out[1].sb_score == round(math.log(2 / 3), 6)
    # (x,a,b): tri unseen → α·c(a,b·)/c(a··)... keys are (w2,w3)=(a,b)=1,
    # ctx2 a=1 → 0.4 ; (a,b,c) seen → 2/3
    assert out[2].sb_score == round((math.log(0.4) + math.log(2 / 3)) / 2, 6)
    # fully OOV → α³/N
    assert out[3].sb_score == round(math.log(0.4**3 / 5), 6)
    assert 4 not in out, "docs without trigrams are omitted"
    # corpus=None (self-scoring): backoff never fires, all tiers seen
    self_out = lm_score_stupid_backoff(corpus, "text", "doc_id").collect()
    assert all(r.sb_score <= 0.0 for r in self_out)


def test_train_quality_lr_monotone_and_learns(spark):
    """In-engine LR training: loss decreases monotonically over the
    fixed iterations, the learned separator actually separates an
    obviously separable fixture, and the whole run is deterministic
    (replay yields identical parameters)."""
    from kusto_pre_forge_spark.operators import textstats as ts

    good = "the cat and the dog went to the market with the others " * 4
    bad = "000 111 222 333 444 555 666 777 888 999 " * 4
    df = spark.createDataFrame(
        [(i, good if i % 2 == 0 else bad) for i in range(40)],
        "doc_id long, text string",
    )
    labeled = ts.quality_features(df, "text").withColumn(
        "y", (F.col("doc_id") % 2 == 0).cast("double")
    )
    res = ts.train_quality_lr(labeled, "y", n_iters=40, learn_rate=0.5)
    assert all(
        a >= b for a, b in zip(res["losses"], res["losses"][1:])
    ), res["losses"]
    assert res["losses"][-1] < res["losses"][0] / 2
    # stopwords indicate good docs, digits indicate bad ones
    assert res["weights"]["stopword_ratio"] > 0
    assert res["weights"]["digit_ratio"] < 0
    res2 = ts.train_quality_lr(labeled, "y", n_iters=40, learn_rate=0.5)
    assert res2 == res, "training must be fully deterministic"


# --- hashed n-gram text classifier (fastText-linear family) -------------------


def _ft_frame(spark, n=160):
    from pyspark.sql import functions as F

    df = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .limit(n)
        .select(
            "doc_id",
            F.concat(
                F.substring("text", 1, 160),
                F.when(
                    F.col("doc_id") % 2 == 0,
                    F.lit(" goodsignal fine prose"),
                ).otherwise(F.lit(" lowrent spam casino")),
            ).alias("text"),
            (F.col("doc_id") % 2 == 0).cast("double").alias("y"),
        )
    )
    return df


def test_hashed_lr_monotone_loss_and_learns(spark):
    from kusto_pre_forge_spark.operators import textstats as TS

    df = _ft_frame(spark)
    model = TS.train_hashed_text_lr(
        df, "y", dim=64, n_iters=8, learn_rate=4.0
    )
    assert len(model["losses"]) == 8
    assert all(
        a >= b - 1e-12
        for a, b in zip(model["losses"], model["losses"][1:])
    ), model["losses"]
    scored = TS.score_hashed_text_lr(df, model["weights"], model["bias"])
    rows = scored.join(df.select("doc_id", "y"), "doc_id").collect()
    acc = sum(
        1 for r in rows if (r["p_quality"] >= 0.5) == (r["y"] == 1.0)
    ) / len(rows)
    assert acc >= 0.85, acc


def test_hashed_lr_deterministic(spark):
    from kusto_pre_forge_spark.operators import textstats as TS

    df = _ft_frame(spark, n=60)
    m1 = TS.train_hashed_text_lr(df, "y", dim=32, n_iters=3)
    m2 = TS.train_hashed_text_lr(df, "y", dim=32, n_iters=3)
    assert m1 == m2


def test_hashed_lr_empty_corpus(spark):
    from kusto_pre_forge_spark.operators import textstats as TS

    df = _ft_frame(spark).filter("doc_id < 0")
    m = TS.train_hashed_text_lr(df, "y", dim=16, n_iters=2)
    assert m["weights"] == [0.0] * 16 and m["bias"] == 0.0
    assert m["losses"] == []


def _flat_model(m):
    w = m["weights"]
    return [*(w.values() if isinstance(w, dict) else w), m["bias"], *m["losses"]]


@pytest.mark.parametrize("trainer", ["quality", "hashed"])
def test_lr_trainers_one_vs_n_partitions(spark, sf_smoke, trainer):
    """One arithmetic, two schedules: a one-partition frame trains in a
    single task, a four-partition one in per-iteration jobs folded on
    the driver — weights, bias and losses agree to FP reassociation."""
    from kusto_pre_forge_spark.operators import textstats as TS

    if trainer == "quality":
        df = TS.quality_features(
            spark.read.parquet(f"{sf_smoke}/documents.parquet"), "text"
        ).withColumn("y", (F.col("quality_score") >= 0.5).cast("double"))

        def train(d):
            return TS.train_quality_lr(
                d, "y", n_iters=3, learn_rate=0.5, features_ready=True
            )
    else:
        df = _ft_frame(spark)

        def train(d):
            return TS.train_hashed_text_lr(d, "y", dim=64, n_iters=3, learn_rate=4.0)

    one, four = train(df.coalesce(1)), train(df.repartition(4))
    assert len(one["losses"]) == len(four["losses"]) == 3
    a, b = _flat_model(one), _flat_model(four)
    assert len(a) == len(b)
    assert max(abs(x - y) for x, y in zip(a, b)) <= 1e-9


def test_hashed_lr_null_label_skipped(spark):
    """A null label adds no gradient term but still counts in the mean's
    denominator — on one partition exactly as on four."""
    import math

    from kusto_pre_forge_spark.operators import textstats as TS

    df = _ft_frame(spark, n=60)
    first = df.agg(F.min("doc_id")).first()[0]
    df = df.withColumn(
        "y", F.when(F.col("doc_id") == first, F.lit(None)).otherwise(F.col("y"))
    )
    assert df.filter(F.col("y").isNull()).count() == 1
    m1 = TS.train_hashed_text_lr(df.coalesce(1), "y", dim=32, n_iters=3)
    m4 = TS.train_hashed_text_lr(df.repartition(4), "y", dim=32, n_iters=3)
    a, b = _flat_model(m1), _flat_model(m4)
    assert all(math.isfinite(x) for x in a + b)
    assert max(abs(x - y) for x, y in zip(a, b)) <= 1e-9


def test_hashed_features_shape(spark):
    from pyspark.sql import functions as F

    from kusto_pre_forge_spark.operators import textstats as TS

    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, ""), (3, "one")],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in TS.hashed_text_features(df, "text", dim=8).collect()
    }
    # 3 unigrams + 2 bigrams
    assert rows[1]["_n"] == 5
    assert all(0 <= i < 8 for i in rows[1]["_idxs"])
    assert rows[2]["_n"] == 0 and rows[2]["_idxs"] == []
    assert rows[3]["_n"] == 1  # single token: no bigrams


def test_score_hashed_lr_is_codegen_projection(spark):
    """Inference must stay a pure scan projection — no exchange, no
    Python UDF (the filter-inside-the-scan posture)."""
    from kusto_pre_forge_spark.operators import textstats as TS

    df = _ft_frame(spark, n=20)
    scored = TS.score_hashed_text_lr(df, [0.1] * 16, -0.2)
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_hash_embedding_properties(spark):
    from kusto_pre_forge_spark.operators import textstats as TS

    df = spark.createDataFrame(
        [
            (1, "alpha beta alpha gamma"),
            (2, "alpha beta alpha gamma"),   # identical text
            (3, "totally different words here"),
            (4, ""),                          # zero-gram
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r["embedding"]
        for r in TS.hashed_text_embedding(df, dim=32).collect()
    }
    assert rows[1] == rows[2], "identical text must embed identically"
    assert abs(sum(x * x for x in rows[1]) - 1.0) < 1e-12, "unit norm"
    assert rows[4] == [0.0] * 32, "zero-gram doc embeds as zero vector"
    cos_same = sum(a * b for a, b in zip(rows[1], rows[2]))
    cos_diff = sum(a * b for a, b in zip(rows[1], rows[3]))
    assert cos_same > cos_diff, "cosine must rank identical text first"


def test_hash_embedding_feeds_similarity_family(spark):
    """The bridge property: model-free embeddings drive the existing
    brute-force cosine top-k with no external embeddings table."""
    from kusto_pre_forge_spark.operators import similarity as SIM
    from kusto_pre_forge_spark.operators import textstats as TS

    df = spark.createDataFrame(
        [
            (1, "spark shuffle partition exchange plan"),
            (2, "spark shuffle partition exchange planner"),
            (3, "grilled cheese sandwich recipe butter"),
        ],
        "doc_id long, text string",
    )
    emb = TS.hashed_text_embedding(df, dim=64).select(
        F.col("doc_id").alias("vec_id"), "embedding"
    )
    top = SIM.cosine_topk(emb, emb.filter("vec_id = 1"), k=2).collect()
    ranked = [r["neighbor_id"] for r in sorted(top, key=lambda r: r["rank"])]
    # self-matches are excluded: the near-paraphrase must rank first
    assert ranked[0] == 2, ranked
