"""Dedup operator semantics on documents + synthetic near-dups."""

import pytest
from pyspark.sql import functions as F

from kusto_pre_forge_spark.operators import dedup


@pytest.fixture(scope="module")
def docs(spark, sf_smoke):
    return spark.read.parquet(f"{sf_smoke}/documents.parquet")


@pytest.fixture(scope="module")
def docs_with_dups(spark, docs):
    """documents + exact copies of 10 docs (ids shifted) + light edits of 5."""
    base = docs.select("doc_id", "text")
    copies = base.limit(10).select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    edits = (
        base.filter(F.col("doc_id") < 5)
        .select(
            (F.col("doc_id") + 200000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" tail")).alias("text"),
        )
    )
    return base.unionByName(copies).unionByName(edits)


def test_exact_dedup(spark, docs_with_dups):
    out = dedup.exact_dedup(docs_with_dups, "text", "doc_id")
    n_docs = docs_with_dups.count()
    assert out.count() == n_docs - 10  # the 10 exact copies collapse
    # survivors keep the min id: none of the copy ids survive
    assert out.filter((F.col("doc_id") >= 100000) & (F.col("doc_id") < 200000)).count() == 0


def test_minhash_lsh_finds_planted_near_dups(docs_with_dups):
    pairs = dedup.minhash_lsh_pairs(
        docs_with_dups, "text", "doc_id", num_hashes=64, bands=16, threshold=0.8
    ).collect()
    found = {(p.id_a, p.id_b) for p in pairs}
    # exact copies are jaccard 1.0 — all must be found
    for i in range(10):
        assert (i, i + 100000) in found, f"exact copy pair {i} missed"
    # light edits are >0.9 similar on 5-gram shingles — banding should catch them
    edit_hits = sum((i, i + 200000) in found for i in range(5))
    assert edit_hits >= 4
    for p in pairs:
        assert 0.8 <= p.jaccard <= 1.0


def test_minhash_pairs_sound_vs_python(docs):
    # every reported pair's jaccard must equal an independent Python
    # computation of 5-gram Jaccard (the verify step is exact, so no false
    # positives survive banding)
    pairs = dedup.minhash_lsh_pairs(docs, "text", "doc_id", threshold=0.8).collect()
    assert pairs  # the synthetic corpus has genuine near-dups (small vocab)
    texts = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}

    def sh(t):
        t = t.lower()
        return {t[i : i + 5] for i in range(max(len(t) - 4, 1))}

    for p in pairs[:50]:
        a, b = sh(texts[p.id_a]), sh(texts[p.id_b])
        expect = len(a & b) / len(a | b)
        assert abs(p.jaccard - expect) < 1e-12, (p.id_a, p.id_b)


def test_simhash_pairs(docs_with_dups):
    pairs = dedup.simhash_pairs(docs_with_dups, "text", "doc_id", max_hamming=3)
    found = {(p.id_a, p.id_b): p.hamming for p in pairs.collect()}
    for i in range(10):
        assert found.get((i, i + 100000)) == 0, f"exact copy {i} should be hamming 0"


def test_ngram_jaccard_exact(spark):
    df = spark.createDataFrame(
        [(1, "abcdefghij"), (2, "abcdefghij"), (3, "zzzzzzzzzz")], ["doc_id", "text"]
    )
    pairs = dedup.ngram_jaccard_pairs(df, "text", "doc_id", shingle_n=5, threshold=0.5)
    rows = pairs.collect()
    assert len(rows) == 1
    assert (rows[0].id_a, rows[0].id_b, rows[0].jaccard) == (1, 2, 1.0)


def test_embedding_dup_pairs(spark, sf_smoke):
    emb = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
    # plant a duplicate vector
    dup = emb.limit(1).select((F.col("vec_id") + 10000).alias("vec_id"), "embedding", "label")
    both = emb.select("vec_id", "embedding", "label").unionByName(dup)
    pairs = dedup.embedding_dup_pairs(both, "embedding", "vec_id", threshold=0.999)
    rows = pairs.collect()
    assert any(r.id_b == r.id_a + 10000 and r.cosine > 0.999 for r in rows)
    # bucketed variant must also find an identical vector (same bucket by construction)
    bpairs = dedup.embedding_dup_pairs(both, "embedding", "vec_id", threshold=0.999, bucket_bits=6)
    assert any(r.id_b == r.id_a + 10000 for r in bpairs.collect())


def test_ngram_max_doc_freq_prunes_but_keeps_near_dups(spark):
    """The DF cap drops corpus-wide boilerplate from the join but keeps
    pairs whose overlap is rare (genuinely duplicated) text."""
    import datetime

    from kusto_pre_forge_spark.functions.datagen import generate_log_data

    # 100 docs of random text (shingles ~unique) + a boilerplate suffix
    # shared by EVERY doc + 3 planted near-dups of the random part
    logs = generate_log_data(
        spark, n_rows=100, seed=5, base_time=datetime.datetime(2026, 1, 1)
    )
    boiler = " standard legal disclaimer text"
    docs = logs.select(
        F.col("Id").alias("doc_id"),
        F.concat(F.col("Text"), F.lit(boiler)).alias("text"),
    )
    dups = docs.filter(F.col("doc_id") <= 3).select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" x")).alias("text"),
    )
    corpus = docs.unionByName(dups)

    exact = dedup.ngram_jaccard_pairs(corpus, "text", "doc_id", threshold=0.5).collect()
    capped = dedup.ngram_jaccard_pairs(
        corpus, "text", "doc_id", threshold=0.5, max_doc_freq=10
    ).collect()
    exact_pairs = {(r.id_a, r.id_b) for r in exact}
    capped_pairs = {(r.id_a, r.id_b) for r in capped}
    planted = {(i, i + 1000) for i in (1, 2, 3)}
    assert planted <= exact_pairs
    assert planted <= capped_pairs, "rare-shingle overlap must survive the cap"
    assert capped_pairs <= exact_pairs, "capping can only drop pairs"
    # reported jaccard never exceeds the exact value
    exact_j = {(r.id_a, r.id_b): r.jaccard for r in exact}
    for r in capped:
        assert r.jaccard <= exact_j[(r.id_a, r.id_b)] + 1e-12


@pytest.fixture(params=["union_find", "alternating_star"])
def cc_branch(request, monkeypatch):
    """Run a component test on both sides of the single-task bound: the
    union-find task, and (bound below every edge count, the empty list
    included) the alternating-star loop."""
    if request.param == "alternating_star":
        monkeypatch.setattr(dedup, "_CC_SINGLE_TASK_EDGES", -1)
    return request.param


def test_connected_components_labels_min_id(spark, cc_branch):
    """Chain, star, and pair components all label with the component min."""
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (4, 2), (10, 11), (20, 21), (20, 22)],
        "id_a long, id_b long",
    )
    labels = {
        (r.id, r.cluster_id) for r in dedup.connected_components(pairs).collect()
    }
    assert labels == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20),
    }


def test_connected_components_long_chain_converges(spark, cc_branch):
    """Worst-case diameter (a path graph) still collapses to one root
    within the iteration cap — the O(log n) star-contraction property."""
    n = 64
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    labels = dedup.connected_components(chain)
    assert labels.count() == n + 1
    assert labels.filter(F.col("cluster_id") != 0).count() == 0


def test_connected_components_empty_pairs(spark, cc_branch):
    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert dedup.connected_components(empty).count() == 0


def test_dedup_survivors_keeps_min_and_untouched_rows(spark, docs_with_dups):
    """End-to-end pairs→clusters→survivors: every duplicate cluster keeps
    exactly its min doc_id; rows in no pair pass through untouched."""
    pairs = dedup.minhash_lsh_pairs(
        docs_with_dups, "text", "doc_id", num_hashes=64, bands=16, threshold=0.95
    )
    out = dedup.dedup_survivors(docs_with_dups, pairs, "doc_id")
    surviving = {r.doc_id for r in out.select("doc_id").collect()}
    # the 10 exact copies (jaccard 1.0) must all be dropped, originals kept
    for i in range(10):
        assert i in surviving
        assert i + 100000 not in surviving
    # survivors + drops partition the corpus
    n_pairs_nodes = (
        pairs.select(F.col("id_a").alias("i"))
        .union(pairs.select("id_b"))
        .distinct()
        .count()
    )
    n_clusters = (
        dedup.connected_components(pairs).select("cluster_id").distinct().count()
    )
    assert len(surviving) == docs_with_dups.count() - (n_pairs_nodes - n_clusters)


def test_minhash_hot_bucket_valve_drops_boilerplate_keeps_rare(spark):
    """max_bucket_size: a giant near-identical template cluster is dropped
    from the candidate join while an under-cap near-dup pair survives."""
    # 60 near-identical boilerplate docs (every band bucket holds ~60) +
    # one distinct near-dup pair of longer random-ish text
    boiler = [
        (i, "identical boilerplate legal disclaimer text repeated verbatim")
        for i in range(60)
    ]
    rare_text = " ".join(f"token{j}" for j in range(40))
    rare = [(1000, rare_text), (1001, rare_text + " x")]
    corpus = spark.createDataFrame(boiler + rare, "doc_id long, text string")

    exact = dedup.minhash_lsh_pairs(
        corpus, "text", "doc_id", num_hashes=64, bands=16, threshold=0.8
    )
    capped = dedup.minhash_lsh_pairs(
        corpus, "text", "doc_id", num_hashes=64, bands=16, threshold=0.8,
        max_bucket_size=10,
    )
    exact_pairs = {(r.id_a, r.id_b) for r in exact.collect()}
    capped_pairs = {(r.id_a, r.id_b) for r in capped.collect()}
    assert (1000, 1001) in exact_pairs
    assert (1000, 1001) in capped_pairs, "under-cap near-dup must survive"
    assert capped_pairs <= exact_pairs, "capping can only drop pairs"
    # the 60-doc boilerplate cluster (>= cap in every bucket) is dropped
    assert not any(a < 60 and b < 60 for a, b in capped_pairs)
    assert any(a < 60 and b < 60 for a, b in exact_pairs)


def test_minhash_incremental_hot_bucket_valve_matches_batch(spark):
    """max_bucket_size on the incremental path: the hot set is counted
    over corpus ∪ new, so incremental(cap) equals batch(cap) restricted
    to pairs that touch a new id — and the cap really drops pairs."""
    boiler_text = "identical boilerplate legal disclaimer text repeated verbatim"
    rare_text = " ".join(f"token{j}" for j in range(40))
    rows = [(i, boiler_text) for i in range(60)]
    rows += [(1000, rare_text), (1001, rare_text + " x")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    corpus = df.filter(F.col("doc_id") < 30)
    new = df.filter(F.col("doc_id") >= 30)
    kw = dict(num_hashes=64, bands=16, threshold=0.8)

    def touching_new(pairs):
        return {
            (r.id_a, r.id_b): round(r.jaccard, 9)
            for r in pairs.collect()
            if r.id_a >= 30 or r.id_b >= 30
        }

    inc = {
        (r.id_a, r.id_b): round(r.jaccard, 9)
        for r in dedup.minhash_lsh_pairs_incremental(
            corpus, new, "text", "doc_id", max_bucket_size=10, **kw
        ).collect()
    }
    capped = touching_new(
        dedup.minhash_lsh_pairs(df, "text", "doc_id", max_bucket_size=10, **kw)
    )
    uncapped = touching_new(dedup.minhash_lsh_pairs(df, "text", "doc_id", **kw))
    assert inc == capped
    assert (1000, 1001) in inc, "under-cap near-dup must survive"
    assert len(inc) < len(uncapped), "the cap must drop boilerplate pairs"
    assert not any(a < 60 and b < 60 for a, b in inc)


@pytest.mark.parametrize("pin_mode", ["persist", "local_checkpoint", "none"])
def test_minhash_pin_modes_agree(spark, docs_with_dups, pin_mode):
    """Every pin mode returns the same pair set (pinning is a
    materialization strategy, never a semantics change)."""
    pairs = dedup.minhash_lsh_pairs(
        docs_with_dups, "text", "doc_id", num_hashes=64, bands=16,
        threshold=0.95, pin_mode=pin_mode,
    ).collect()
    found = {(p.id_a, p.id_b) for p in pairs}
    for i in range(10):
        assert (i, i + 100000) in found


def test_minhash_pin_mode_checkpoint_needs_dir(spark, docs_with_dups, tmp_path):
    """checkpoint mode works once a checkpoint dir is set (and the frame
    survives an action), validating the documented requirement."""
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    pairs = dedup.minhash_lsh_pairs(
        docs_with_dups, "text", "doc_id", num_hashes=64, bands=16,
        threshold=0.95, pin_mode="checkpoint",
    ).collect()
    found = {(p.id_a, p.id_b) for p in pairs}
    for i in range(10):
        assert (i, i + 100000) in found


def test_minhash_incremental_equals_batch_restriction(spark, sf_smoke):
    """incremental(corpus, new) must equal the full batch run restricted
    to pairs touching a new id — and contain no corpus-internal pair."""
    from kusto_pre_forge_spark.operators import dedup

    d = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    split = 400
    corpus = d.filter(F.col("doc_id") < split)
    new = d.filter(F.col("doc_id") >= split)
    inc = {
        (r.id_a, r.id_b): round(r.jaccard, 9)
        for r in dedup.minhash_lsh_pairs_incremental(
            corpus, new, "text", "doc_id", threshold=0.9
        ).collect()
    }
    full = {
        (r.id_a, r.id_b): round(r.jaccard, 9)
        for r in dedup.minhash_lsh_pairs(
            d, "text", "doc_id", threshold=0.9
        ).collect()
        if r.id_a >= split or r.id_b >= split
    }
    assert inc == full
    assert all(a >= split or b >= split for a, b in inc)


def test_dedup_survivors_priority_policy(spark):
    """keep-best: highest priority survives, ties break to lowest id;
    unclustered rows always survive."""
    from kusto_pre_forge_spark.operators import dedup

    df = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30), (4, 5), (9, 99)],
        "id long, pri long",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "id_a long, id_b long"
    )
    kept = {
        r.id
        for r in dedup.dedup_survivors(
            df, pairs, "id", priority_col="pri"
        ).collect()
    }
    # cluster {1,2,3,4}: max pri 30 held by 2 and 3 -> lowest id 2 wins
    assert kept == {2, 9}
    # default min-id policy unchanged
    kept_min = {r.id for r in dedup.dedup_survivors(df, pairs, "id").collect()}
    assert kept_min == {1, 9}


def test_edit_distance_pairs_banding(spark):
    from kusto_pre_forge_spark.operators.dedup import edit_distance_pairs

    rows = [
        (1, "spark-engine"),
        (2, "spark-enginx"),  # 1 substitution from 1
        (3, "spark-engzzz"),  # 3 substitutions from 1
        (4, "totally-other"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, s string")
    out = {(r.id_a, r.id_b): r.distance for r in edit_distance_pairs(df, "s", "doc_id", 1).collect()}
    assert out == {(1, 2): 1}, "only the distance-1 substitution pair"
    # k=2: a 2-substitution pair with an agreeing half must appear
    rows2 = [(1, "abcdef"), (2, "abcdxx")]
    df2 = spark.createDataFrame(rows2, "doc_id long, s string")
    out2 = {(r.id_a, r.id_b): r.distance for r in edit_distance_pairs(df2, "s", "doc_id", 2).collect()}
    assert out2 == {(1, 2): 2}


def test_hamming_pairs_generic(spark):
    from kusto_pre_forge_spark.operators.dedup import hamming_pairs

    rows = [
        (1, -1),                 # all 64 bits set
        (2, -1 ^ 0b101),         # 2 bits flipped from doc 1
        (3, 0),                  # all clear
        (4, 0b1),                # 1 bit from doc 3
        (5, 0x0F0F0F0F0F0F0F0F), # far from everything
    ]
    df = spark.createDataFrame(rows, "doc_id long, fp long")
    got = {
        (r.id_a, r.id_b): r.distance
        for r in hamming_pairs(df, "fp", "doc_id", max_hamming=3).collect()
    }
    assert got == {(1, 2): 2, (3, 4): 1}, got


@pytest.mark.parametrize(
    "finder, col",
    [(dedup.hamming_pairs, "fp"), (dedup.simhash_pairs, "text")],
    ids=["hamming_pairs", "simhash_pairs"],
)
def test_hamming_pairs_refuse_chunks_le_max_hamming(spark, finder, col):
    """chunks must exceed max_hamming (pigeonhole completeness): both
    finders share one banding core and refuse the incomplete setting
    instead of silently returning a partial pair set."""
    df = spark.createDataFrame([(1, -1, "a b c")], "doc_id long, fp long, text string")
    with pytest.raises(ValueError, match="chunks > max_hamming"):
        finder(df, col, "doc_id", max_hamming=4, chunks=4)


def test_hamming_pairs_hot_bucket_valve(spark):
    """10k blank-image fingerprints (all-zero dHash) must not go quadratic:
    the valve drops the degenerate buckets, journals the drop, and keeps
    unrelated true pairs intact."""
    from kusto_pre_forge_spark.journal import PerfJournal
    from kusto_pre_forge_spark.operators.dedup import hamming_pairs

    blanks = spark.range(10_000).select(
        (F.col("id") + 1000).alias("doc_id"), F.lit(0).cast("long").alias("fp")
    )
    normal = spark.createDataFrame(
        [(1, -1), (2, -1 ^ 0b101)], "doc_id long, fp long"
    )
    df = normal.unionByName(blanks)
    j = PerfJournal(sink=lambda _s: None)
    got = {
        (r.id_a, r.id_b): r.distance
        for r in hamming_pairs(
            df, "fp", "doc_id", max_hamming=3, max_bucket_size=100, journal=j
        ).collect()
    }
    assert got == {(1, 2): 2}, "valve drops only the degenerate bucket's pairs"
    # all 4 chunk buckets of the all-zero fp are over-cap -> journaled
    assert j.snapshot()["HammingPairs.HotBucketsDropped"] == 4


def test_simhash_pairs_hot_bucket_valve(spark):
    from kusto_pre_forge_spark.journal import PerfJournal
    from kusto_pre_forge_spark.operators.dedup import simhash_pairs

    # 500 identical boilerplate docs -> one fingerprint -> hot buckets;
    # plus one near-dup pair of a distinct longer text that must survive
    boiler = spark.range(500).select(
        (F.col("id") + 1000).alias("doc_id"), F.lit("buy now limited offer").alias("text")
    )
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    normal = spark.createDataFrame(
        [(1, base), (2, base + " ok")], "doc_id long, text string"
    )
    j = PerfJournal(sink=lambda _s: None)
    pairs = simhash_pairs(
        normal.unionByName(boiler),
        "text",
        "doc_id",
        max_hamming=3,
        max_bucket_size=50,
        journal=j,
    ).collect()
    ids = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 2) in ids, "non-degenerate near-dup pair survives the valve"
    assert all(a < 1000 and b < 1000 for a, b in ids), "boilerplate pairs dropped"
    assert j.snapshot()["SimHashPairs.HotBucketsDropped"] == 4


def test_incremental_dedup_accept_rejects_string_ids(spark):
    """Numeric-id contract fails fast at plan build, not mid-job."""
    corpus = spark.createDataFrame([("a", "some text")], "doc_id string, text string")
    new = spark.createDataFrame([("b", "other text")], "doc_id string, text string")
    with pytest.raises(TypeError, match="numeric"):
        dedup.incremental_dedup_accept(corpus, new, "text", "doc_id")


def test_edit_distance_pairs_indels(spark):
    """Insert/delete near-dups — titles' dominant edit type — must be
    found: the segment-vs-window banding is complete for ALL edit kinds,
    matching brute-force lev<=k exactly."""
    from kusto_pre_forge_spark.operators.dedup import edit_distance_pairs

    rows = [
        (1, "The Matrix"),
        (2, "The  Matrix"),      # pure insertion (double space), lev 1
        (3, "The Matri"),        # deletion at the end, lev 1 from 1
        (4, "A Matrix"),         # lev 4 from 1 -> out at k=1
        (5, "he Matrix"),        # deletion at the FRONT (shifts all segments)
    ]
    df = spark.createDataFrame(rows, "doc_id long, s string")
    got = {
        (r.id_a, r.id_b): r.distance
        for r in edit_distance_pairs(df, "s", "doc_id", 1).collect()
    }
    # brute-force expectation
    import itertools

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
        return dp[-1]

    want = {
        (a, b): lev(sa, sb)
        for (a, sa), (b, sb) in itertools.combinations(rows, 2)
        if lev(sa, sb) <= 1
    }
    assert got == want, (got, want)
    assert (1, 2) in got and (1, 3) in got and (1, 5) in got


def test_edit_distance_pairs_tiny_strings(spark):
    """Strings shorter than k+1 (empty segments) still pair correctly."""
    from kusto_pre_forge_spark.operators.dedup import edit_distance_pairs

    rows = [(1, "a"), (2, "ab"), (3, ""), (4, "xy")]
    df = spark.createDataFrame(rows, "doc_id long, s string")
    got = {
        (r.id_a, r.id_b): r.distance
        for r in edit_distance_pairs(df, "s", "doc_id", 1).collect()
    }
    assert got == {(1, 2): 1, (1, 3): 1}, got


def test_exact_substring_spans_planted(spark):
    """Planted shared boilerplate is found as a maximal merged span;
    unique text produces none; within-doc repetition alone does not count
    (min_docs=2 distinct docs)."""
    from kusto_pre_forge_spark.operators.dedup import exact_substring_spans

    boiler = "subscribe to our newsletter for daily updates and offers now"
    rows = [
        (1, f"intro words here {boiler} closing remark"),
        (2, f"{boiler} totally different tail content follows here"),
        (3, "completely unique text with no shared region at all kept"),
        (4, "repeat repeat repeat repeat repeat repeat repeat repeat repeat"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = exact_substring_spans(df, "text", "doc_id", window_tokens=5, min_docs=2)
    got = {r.doc_id: (r.span_start, r.span_end, r.n_dup_windows) for r in out.collect()}
    assert set(got) == {1, 2}
    # doc 1: boiler tokens occupy positions 3..12 -> windows 3..8 (k=5)
    assert got[1] == (3, 13, 6), got
    assert got[2] == (0, 10, 6), got


def test_cut_duplicate_spans_keep_first(spark):
    """Lee et al. cutting semantics: per duplicated window the lowest doc
    keeps its occurrence; other docs lose exactly the covered tokens."""
    from kusto_pre_forge_spark.operators.dedup import cut_duplicate_spans

    boiler = "subscribe to our newsletter for daily updates and offers now"
    rows = [
        (1, f"intro words here {boiler} closing remark"),
        (2, f"{boiler} totally different tail content follows here"),
        (3, f"another head then {boiler} and then some more text"),
        (4, "unique text entirely"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r
        for r in cut_duplicate_spans(df, "text", "doc_id", window_tokens=5).collect()
    }
    assert got[1].n_tokens_removed == 0, "winner keeps its copy"
    assert "subscribe" in got[1].text_clean
    assert got[2].n_tokens_removed == 10
    assert got[2].text_clean == "totally different tail content follows here"
    assert got[3].n_tokens_removed == 10
    assert "newsletter" not in got[3].text_clean
    assert got[4].n_tokens_removed == 0
    assert got[4].text_clean == "unique text entirely"


def test_edit_distance_pairs_completeness_fuzz(spark):
    """Property: the banded pair set EQUALS brute-force lev<=k over random
    short strings (including indel-heavy mutations) for k=1 and k=2."""
    import itertools
    import random as _random

    from kusto_pre_forge_spark.operators.dedup import edit_distance_pairs

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
        return dp[-1]

    rng = _random.Random(421)
    alphabet = "abc "
    base = ["".join(rng.choice(alphabet) for _ in range(rng.randint(0, 9)))
            for _ in range(12)]
    mutated = []
    for s in base:
        t = list(s)
        op = rng.choice(["ins", "del", "sub"])
        pos = rng.randint(0, max(len(t) - 1, 0))
        if op == "ins":
            t.insert(pos, rng.choice(alphabet))
        elif op == "del" and t:
            del t[pos]
        elif t:
            t[pos] = rng.choice(alphabet)
        mutated.append("".join(t))
    rows = [(i, s) for i, s in enumerate(base + mutated)]
    df = spark.createDataFrame(rows, "doc_id long, s string")
    for k in (1, 2):
        got = {
            (r.id_a, r.id_b): r.distance
            for r in edit_distance_pairs(df, "s", "doc_id", k).collect()
        }
        want = {
            (a, b): lev(sa, sb)
            for (a, sa), (b, sb) in itertools.combinations(rows, 2)
            if lev(sa, sb) <= k
        }
        assert got == want, (k, got.keys() ^ want.keys())

def test_semdedup_minid_and_far_rules(spark):
    """SemDeDup: cell-scoped near-dup groups resolve to one survivor;
    the paper's far-from-centroid rule keeps the least prototypical.
    Ids 0-3 are the (lowest-id) centroids; dup groups live at 10+."""
    from kusto_pre_forge_spark.operators import dedup as dd

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),       # centroid / cell 0
        (1, [0.0, 1.0, 0.0, 0.0]),       # centroid / cell 1
        (2, [0.0, 0.0, 1.0, 0.0]),       # centroid / cell 2
        (3, [0.0, 0.0, 0.0, 1.0]),       # centroid / cell 3
        (10, [0.98, 0.01, 0.0, 0.0]),    # group A (cell 0)
        (11, [0.97, 0.02, 0.0, 0.0]),
        (12, [0.90, 0.30, 0.0, 0.0]),    # farthest-from-centroid member
        (20, [0.02, 0.99, 0.0, 0.0]),    # group B (cell 1)
        (21, [0.01, 0.98, 0.0, 0.0]),
        (30, [0.5, 0.0, 0.85, 0.0]),    # singleton (cell 2, cos to c2 = 0.86)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = dd.semdedup(df, "embedding", "vec_id", n_cells=4, threshold=0.9)
    got = {r.vec_id: r for r in out.collect()}
    assert set(got) == {0, 1, 2, 3, 10, 11, 12, 20, 21, 30}
    kept = {i for i, r in got.items() if r.is_kept}
    # group A {0,10,11,12} shares cell 0 with its centroid row: survivor 0;
    # group B {1,20,21}: survivor 1; singletons stay
    assert got[10].cluster_id == 0 and got[11].cluster_id == 0
    assert got[20].cluster_id == 1 and got[21].cluster_id == 1
    assert kept == {0, 1, 2, 3, 30}
    # far-from-centroid keeps the least prototypical member of each group:
    # 12 is farthest off-axis in cell 0
    far = dd.semdedup(
        df, "embedding", "vec_id", n_cells=4, threshold=0.9,
        keep="far_from_centroid",
    )
    fkept = {r.vec_id for r in far.collect() if r.is_kept}
    assert 12 in fkept and 0 not in fkept and 10 not in fkept
    assert {2, 3, 30} <= fkept
    import pytest as _pt

    with _pt.raises(ValueError):
        dd.semdedup(df, "embedding", "vec_id", keep="bogus")


def test_semdedup_comparisons_stay_cell_local(spark):
    """a near-dup pair straddling two cells is NOT merged — the
    documented SemDeDup recall trade proves pair generation is
    cell-scoped (cost Σ|cell|², never n²)."""
    from kusto_pre_forge_spark.operators import dedup as dd

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [0.0, 0.0, 1.0, 0.0]),
        (3, [0.0, 0.0, 0.0, 1.0]),
        # cosine(10, 20) ≈ 0.9998 but they argmax to different cells
        (10, [0.71, 0.70, 0.0, 0.0]),
        (20, [0.70, 0.71, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: r for r in dd.semdedup(
        df, "embedding", "vec_id", n_cells=4, threshold=0.99
    ).collect()}
    assert out[10].cell != out[20].cell
    assert out[10].is_kept and out[20].is_kept
    assert out[10].cluster_id == 10 and out[20].cluster_id == 20


def _emb_df(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_incremental_semdedup_accept(spark):
    """embedding admission: corpus wins, min-id wins within batch,
    novel vectors pass, and comparison stays cell-scoped."""
    from kusto_pre_forge_spark.operators import dedup as dd

    centroids = [
        [1.0, 0.0, 0.0, 0.0],
        [0.0, 1.0, 0.0, 0.0],
        [0.0, 0.0, 1.0, 0.0],
        [0.0, 0.0, 0.0, 1.0],
    ]
    corpus = _emb_df(spark, [(1, [0.99, 0.01, 0.0, 0.0])])  # cell 0
    batch = _emb_df(spark, [
        (10, [0.98, 0.02, 0.0, 0.0]),   # near-dup of corpus 1 → reject
        (11, [0.01, 0.99, 0.0, 0.0]),   # novel (cell 1) → accept
        (12, [0.02, 0.98, 0.0, 0.0]),   # near-dup of 11 in-batch → reject
        (13, [0.0, 0.0, 1.0, 0.0]),     # novel (cell 2) → accept
    ])
    got = {
        r.vec_id
        for r in dd.incremental_semdedup_accept(
            corpus, batch, "embedding", "vec_id",
            centroids=centroids, n_cells=4, threshold=0.95,
        ).collect()
    }
    assert got == {11, 13}
    # priority flips the within-batch survivor
    batch_p = batch.withColumn(
        "prio", F.when(F.col("vec_id") == 12, 9).otherwise(1)
    )
    got_p = {
        r.vec_id
        for r in dd.incremental_semdedup_accept(
            corpus, batch_p, "embedding", "vec_id",
            centroids=centroids, n_cells=4, threshold=0.95,
            priority_col="prio",
        ).collect()
    }
    assert got_p == {12, 13}


def test_incremental_semdedup_empty_corpus_and_replay(spark):
    """first batch seeds cell geometry from itself; re-running the same
    admission against the already-admitted store is a no-op (all dups)."""
    from kusto_pre_forge_spark.operators import dedup as dd

    empty = _emb_df(spark, []).limit(0)
    # ids 1,2 seed the two cells; 10 is an in-batch near-dup of 1
    batch = _emb_df(spark, [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (10, [0.99, 0.01, 0.0, 0.0]),
    ])
    first = dd.incremental_semdedup_accept(
        empty, batch, "embedding", "vec_id", n_cells=2, threshold=0.95
    )
    ids = {r.vec_id for r in first.collect()}
    assert ids == {1, 2}
    # frozen centroids for the second wave (production contract): fresh
    # ids carrying duplicate content are all rejected by the corpus
    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    wave2 = _emb_df(spark, [
        (20, [0.999, 0.001, 0.0, 0.0]),
        (21, [0.001, 0.999, 0.0, 0.0]),
    ])
    again = dd.incremental_semdedup_accept(
        first, wave2, "embedding", "vec_id",
        centroids=cents, n_cells=2, threshold=0.95,
    )
    assert again.count() == 0


def test_semdedup_hot_cell_valve(spark):
    """10k identical embeddings collapse into ONE cell — unvalved that
    is a 10k×10k dense Gram in a single task. With ``max_cell_size`` the
    degenerate cell skips pair generation (its rows stay as always-kept
    singletons — fail-open like the banded valves), the drop is
    journaled, and cells under the cap still dedup normally."""
    import time

    from kusto_pre_forge_spark.journal import PerfJournal
    from kusto_pre_forge_spark.operators import dedup as dd

    rows = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])]
    rows += [(100 + i, [0.0, 0.999, 0.001, 0.0]) for i in range(10_000)]
    rows += [(50, [0.99, 0.01, 0.0, 0.0])]  # near-dup of 0, small cell
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).repartition(8)
    j = PerfJournal(sink=lambda _s: None)
    t0 = time.monotonic()
    out = dd.semdedup(
        df, "embedding", "vec_id", n_cells=2, threshold=0.95,
        max_cell_size=1000, journal=j,
    )
    got = {r.vec_id: r for r in out.collect()}
    elapsed = time.monotonic() - t0
    assert elapsed < 60, f"hot cell not valved: {elapsed:.1f}s"
    assert j.snapshot()["HotCellsDropped"] == 1
    # every row of the hot cell survives as a singleton
    assert all(got[100 + i].is_kept for i in range(10_000))
    # the cool cell still dedups: 50 clusters under 0
    assert got[50].cluster_id == 0 and not got[50].is_kept
    assert got[0].is_kept and got[1].is_kept


def test_incremental_semdedup_hot_cell_valve_admits(spark):
    """Streaming admission with an over-cap cell fails OPEN: the batch's
    rows in that cell admit (no pair generation), the skip is journaled,
    and under-cap cells keep rejecting duplicates."""
    from kusto_pre_forge_spark.journal import PerfJournal
    from kusto_pre_forge_spark.operators import dedup as dd

    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    corpus = _emb_df(spark, [
        (1, [1.0, 0.0, 0.0, 0.0]),
        *[(100 + i, [0.0, 0.999, 0.001, 0.0]) for i in range(20)],
    ])
    batch = _emb_df(spark, [
        (200, [0.0, 0.998, 0.002, 0.0]),  # dup content, but cell 1 is hot
        (201, [0.999, 0.001, 0.0, 0.0]),  # dup of corpus id 1, cell 0 cool
    ])
    j = PerfJournal(sink=lambda _s: None)
    got = {
        r.vec_id
        for r in dd.incremental_semdedup_accept(
            corpus, batch, "embedding", "vec_id",
            centroids=cents, n_cells=2, threshold=0.95,
            max_cell_size=10, journal=j,
        ).collect()
    }
    assert got == {200}  # hot-cell arrival admitted, cool-cell dup rejected
    assert j.snapshot()["HotCellsDropped"] == 1


def test_soft_dedup_weights_inverse_cluster_size(spark):
    """weight = 1/cluster_size within components; singletons weight 1;
    weights sum to the number of effective (unique) documents."""
    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in range(1, 8)], "doc_id long, text string"
    )
    # components: {1,2,3} (chain), {4,5}; 6,7 untouched
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "id_a long, id_b long"
    )
    out = dedup.soft_dedup_weights(docs, pairs, "doc_id")
    rows = {r.doc_id: (r.cluster_size, r.sample_weight) for r in out.collect()}
    assert rows[1] == (3, pytest.approx(1 / 3)) and rows[2] == rows[1] == rows[3]
    assert rows[4] == (2, 0.5) and rows[5] == (2, 0.5)
    assert rows[6] == (1, 1.0) and rows[7] == (1, 1.0)
    total = sum(w for _s, w in rows.values())
    assert total == pytest.approx(1 + 1 + 2)  # 2 clusters + 2 singletons


def test_cdc_chunks_shift_resistant(spark):
    """CDC's defining property: prepending a paragraph changes only the
    chunks up to the first boundary after the insertion point — every
    later chunk hash is identical (fixed-size windows would all shift)."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    shifted = "inserted words here " + base
    df = spark.createDataFrame(
        [(1, base), (2, shifted)], "doc_id long, text string"
    )
    ch = dedup.cdc_chunks(df, divisor=4)
    by_doc = {
        1: {r.chunk_md5 for r in ch.filter("doc_id = 1").collect()},
        2: {r.chunk_md5 for r in ch.filter("doc_id = 2").collect()},
    }
    shared = by_doc[1] & by_doc[2]
    assert len(shared) >= len(by_doc[1]) - 1, (
        "all but the first chunk must survive the prefix insertion"
    )
    # chunks rebuild the token stream exactly
    rows = sorted(
        (r.chunk_id, r.chunk_text)
        for r in ch.filter("doc_id = 1").collect()
    )
    rebuilt = " ".join(t for _i, t in rows)
    assert rebuilt == base.strip().lower()
    # duplicated-passage report finds the shared chunks
    dup = dedup.cdc_duplicate_chunks(df, divisor=4, min_tokens=2)
    assert dup.filter("n_docs = 2").count() >= 1


def test_lsh_candidate_recall_pinned_values(spark, sf_smoke):
    """Raw measured values pinned at sf0.001: recall 1.0 at both band
    choices on this corpus (near-dups are near-identical), efficiency
    ordering 4-band >= 16-band (more rows/band = tighter buckets); and a
    planted miss: a pair at j~0.5 is exact-invisible at threshold 0.8."""
    from kusto_pre_forge_spark.operators import dedup as dd

    d = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    r16 = dd.lsh_candidate_recall(d, "text", "doc_id", bands=16, threshold=0.8).first()
    r4 = dd.lsh_candidate_recall(d, "text", "doc_id", bands=4, threshold=0.8).first()
    # 16 bands x 4 rows: every exact pair surfaces; 4 bands x 16 rows
    # drops exactly one borderline pair at this SF (0.964...) — the
    # measured trade the harness exists to expose
    assert r16.recall == 1.0 and r4.recall >= 0.95
    assert r16.n_exact == r4.n_exact
    assert r4.candidate_efficiency >= r16.candidate_efficiency
    assert r16.n_candidates >= r16.n_hits
    import pytest as _pt

    with _pt.raises(ValueError):
        dd.lsh_candidate_recall(d, "text", "doc_id", num_hashes=64, bands=7)


def test_hamming_candidate_recall_pigeonhole_and_misses(spark):
    """chunks > max_hamming must MEASURE recall 1.0 (the pigeonhole
    guarantee); chunks = 2 at distance ≤ 3 has real misses — pairs whose
    differing bits straddle both 32-bit halves — and the harness
    quantifies them. Hand-built fingerprints pin exact numbers."""
    from kusto_pre_forge_spark.operators import dedup as D

    rows = [
        (1, 0b0000),          # base
        (2, 0b0011),          # dist 2 from base, both flips in chunk 0
        (3, (1 << 0) | (1 << 40)),   # dist 2 from base, straddles halves
        (4, (1 << 40) | (1 << 41)),  # dist 2, both in top half
        (5, 0x5555555555555555),     # far from everything
    ]
    df = spark.createDataFrame(rows, "id long, fp long")
    r4 = D.hamming_candidate_recall(df, "fp", "id", max_hamming=3, chunks=4).first()
    assert r4.recall == 1.0 and r4.n_exact == r4.n_hits
    r2 = D.hamming_candidate_recall(df, "fp", "id", max_hamming=3, chunks=2).first()
    # pair (1,3) differs in bit 0 and bit 40: with 2 chunks NEITHER half
    # matches -> a genuine miss
    assert r2.n_exact == r4.n_exact
    assert r2.n_hits < r2.n_exact
    assert r2.recall < 1.0


def test_chunk_layout_covers_every_bit(spark):
    """chunks not dividing n_bits must NOT leave the top bits outside
    every band (ADVICE r9 #4): the last chunk absorbs the remainder, so
    the pigeonhole guarantee holds for e.g. chunks=5 over 64 bits."""
    from kusto_pre_forge_spark.operators import dedup as D

    # layout covers [0, n_bits) exactly, no gaps, no overlap
    for n_bits, chunks in [(64, 5), (64, 3), (60, 7), (64, 4), (60, 4)]:
        layout = D._chunk_layout(n_bits, chunks)
        covered = 0
        for shift, mask in layout:
            covered |= mask << shift
        assert covered == (1 << n_bits) - 1, (n_bits, chunks)
        assert len(layout) == chunks

    # the old floor bug's concrete failure: chunks=5, 64 bits — bits_per
    # floored to 12, bits 60-63 uncovered. Two fps differing ONLY in the
    # top bits would share every truncated chunk yet be a real pair; with
    # the remainder-absorbing last chunk the harness must measure 1.0.
    rows = [
        (1, 0),
        # dist 2, both flips in the top nibble (bit 63 set -> negative long)
        (2, ((1 << 63) | (1 << 61)) - (1 << 64)),
        (3, 0x5555555555555555),
    ]
    df = spark.createDataFrame(rows, "id long, fp long")
    r = D.hamming_candidate_recall(
        df, "fp", "id", max_hamming=3, chunks=5
    ).first()
    assert r.recall == 1.0 and r.n_exact == r.n_hits == 1
    got = {
        (p.id_a, p.id_b): p.distance
        for p in D.hamming_pairs(
            df, "fp", "id", max_hamming=3, chunks=5
        ).collect()
    }
    assert got == {(1, 2): 2}, got
