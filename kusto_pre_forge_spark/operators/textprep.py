"""Training-corpus preparation operators beyond per-doc stats (textstats.py):
repetition-based quality signals, PII scrubbing, fixed-size chunking, and
corpus-level n-gram frequency — the filter/transform stages an LLM data
pipeline runs between raw crawl and tokenizer.

Scale posture: everything is either a higher-order function over the text's
own token array (no shuffle at all) or a two-level aggregation keyed by
doc_id / n-gram (map-side partial combine; the n-gram count is the classic
word-count shape that scales linearly). No Python UDFs anywhere — the hot
path is pure codegen, which matters when "documents" is 100 TB of crawl.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

WS_RE = r"\s+"

# Email + long-digit-run patterns, deliberately RE2-compatible so the exact
# same pattern strings run in Spark (java.util.regex) and DuckDB (RE2) —
# oracle replayability is part of the operator contract here.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
DIGIT_RUN_RE = r"\d{6,}"


def _words(col: Column) -> Column:
    """Whitespace tokens with empties dropped (split of a leading/trailing
    -space string yields '' entries in both engines)."""
    return F.filter(F.split(col, WS_RE), lambda w: w != "")


def repetition_features(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition signals per document.

    Outputs per doc: ``n_words``, ``dup_word_frac`` (1 - distinct/total),
    ``top_bigram_frac`` (occurrences of the most frequent word bigram /
    total bigrams; ties broken lexicographically smallest). High values of
    either mark boilerplate/spam for corpus filtering.

    Plan: the word-level fractions are higher-order functions on the token
    array (zero shuffle); only the bigram mode needs an explode +
    two-level count, keyed by (doc, bigram) then doc — both combine
    map-side, and nothing ever aggregates across documents, so the job
    scales with corpus size, not vocabulary.
    """
    words = _words(F.col(text_col))
    base = df.select(
        id_col,
        words.alias("_w"),
        F.size(words).alias("n_words"),
        F.when(F.size(words) == 0, F.lit(0.0))
        .otherwise(
            1.0
            - F.size(F.array_distinct(words)).cast("double")
            / F.size(words).cast("double")
        )
        .alias("dup_word_frac"),
    )
    bigrams = base.select(
        id_col,
        F.explode(
            F.zip_with(
                F.slice(F.col("_w"), 1, F.greatest(F.size("_w") - 1, F.lit(0))),
                F.slice(F.col("_w"), 2, F.greatest(F.size("_w") - 1, F.lit(0))),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
        ).alias("_bg"),
    )
    per_bg = bigrams.groupBy(id_col, "_bg").agg(F.count(F.lit(1)).alias("_c"))
    bg_stats = per_bg.groupBy(id_col).agg(
        (F.max("_c").cast("double") / F.sum("_c").cast("double")).alias(
            "top_bigram_frac"
        )
    )
    # left join: a doc with < 2 words has no bigrams but must not vanish
    return base.drop("_w").join(bg_stats, id_col, "left").select(
        id_col,
        "n_words",
        "dup_word_frac",
        F.coalesce("top_bigram_frac", F.lit(0.0)).alias("top_bigram_frac"),
    )


def pii_scrub(
    df: DataFrame,
    text_col: str,
    id_col: str,
    email_token: str = "<EMAIL>",
    number_token: str = "<NUM>",
    email_re: str = EMAIL_RE,
    digit_re: str = DIGIT_RUN_RE,
) -> DataFrame:
    """Scrub email addresses and long digit runs, reporting match counts.

    Output: (id, n_emails, n_digit_runs, scrubbed) — the scrubbed text plus
    per-doc counts for pipeline telemetry (how much PII a source carries is
    itself a quality signal). Single projection, two regexes, all codegen.
    """
    c = F.col(text_col)
    return df.select(
        id_col,
        F.regexp_count(c, F.lit(email_re)).cast("long").alias("n_emails"),
        F.regexp_count(c, F.lit(digit_re)).cast("long").alias("n_digit_runs"),
        F.regexp_replace(
            F.regexp_replace(c, email_re, email_token),
            digit_re,
            number_token,
        ).alias("scrubbed"),
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_words: int = 50,
) -> DataFrame:
    """Split each document into fixed-size word-window chunks.

    Output: (id, chunk_id, chunk_text, chunk_words) — one row per chunk,
    chunk_id 0-based. The tokenize → window → re-join all happens inside
    array functions on the row (posexplode of a ``sequence`` of chunk
    starts); Spark's generate is pipelined, so a 100 TB corpus chunks in a
    single map-only stage — no shuffle, no UDF, and the output is exactly
    the shape an embedding/tokenizer stage wants to consume.
    """
    words = _words(F.col(text_col))
    tokenized = df.select(id_col, words.alias("_w"), F.size(words).alias("_n"))
    starts = F.sequence(
        F.lit(0),
        F.greatest(
            F.floor((F.col("_n") - 1) / chunk_words).cast("int"), F.lit(0)
        ),
    )
    exploded = tokenized.select(
        id_col,
        "_w",
        "_n",
        F.posexplode(starts).alias("chunk_id", "_start"),
    )
    chunk = F.slice(F.col("_w"), F.col("_start") * chunk_words + 1, chunk_words)
    return exploded.select(
        id_col,
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.array_join(chunk, " ").alias("chunk_text"),
        F.size(chunk).cast("long").alias("chunk_words"),
    )


def corpus_ngram_topk(
    df: DataFrame,
    text_col: str = "text",
    n: int = 2,
    k: int = 20,
) -> DataFrame:
    """Corpus-wide top-k word n-grams with counts (tie-break: ngram asc).

    The word-count shape: build each row's n-gram array with zip_with
    (no cross-row state), explode, two-phase count (map-side partial
    combine takes the shuffle down to |vocabulary|), TakeOrdered for the
    top-k — no global sort. At 100 TB the only knob to watch is n-gram
    cardinality; for n ≤ 3 on natural text the partial-aggregate hash map
    stays effective.
    """
    words = _words(F.col(text_col))
    grams = words
    for i in range(1, n):
        grams = F.zip_with(
            F.slice(grams, 1, F.greatest(F.size(words) - i, F.lit(0))),
            F.slice(words, i + 1, F.greatest(F.size(words) - i, F.lit(0))),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return (
        df.select(F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("ngram_count"))
        .orderBy(F.col("ngram_count").desc(), F.col("ngram"))
        .limit(k)
    )


def doc_tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Top-k TF-IDF terms per document (tie-break: term asc).

    tf = in-doc count, idf = ln(N / df_term) over the corpus. The classic
    two-aggregate shape: (doc, term) counts, term document-frequencies,
    then a rank window per doc. The df_term side is |vocabulary|-sized —
    broadcast when it fits, hash-join otherwise (left to Catalyst/AQE); the
    corpus row count N is a scalar literal plan (1-row agg crossJoin), not
    a driver-side collect.

    At 100 TB the (doc, term) explode dominates; both aggregations combine
    map-side, and nothing aggregates to a single key (no global hotspot).
    """
    words = _words(F.col(text_col))
    terms = df.select(id_col, F.explode(words).alias("term"))
    # tf feeds both the document-frequency aggregate and the scoring join;
    # pin it so the token explode + count runs once, not per consumer
    # (unique (doc, term) rows — already smaller than the raw token stream).
    # Lazy persist: keeps lineage (executor loss recomputes, not fails) and
    # defers materialization to the first consumer's action.
    from kusto_pre_forge_spark.pinning import pin

    tf = pin(terms.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf")))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_term"))
    n_docs = df.select(F.count(F.lit(1)).alias("_n"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(n_docs)
        .withColumn(
            "tfidf",
            F.col("tf") * F.log(F.col("_n").cast("double") / F.col("df_term")),
        )
    )
    # rank on the ROUNDED score: mathematically-equal scores computed via
    # different float paths (2·ln10 vs ln100) must tie identically in any
    # replaying engine, and ties then break on the term string
    scored = scored.withColumn("tfidf", F.round("tfidf", 6))
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            id_col, "term", F.col("rank").cast("long").alias("rank"), "tfidf"
        )
    )


# ---------------------------------------------------------------------------
# BPE: train merge rules from a corpus word histogram, apply them in Spark
# ---------------------------------------------------------------------------


def _java_q(s: str) -> str:
    """Literal-quote a symbol for java.util.regex (\\Q…\\E, with the one
    sequence that can escape a quote section split safely)."""
    return "\\Q" + s.replace("\\E", "\\E\\\\E\\Q") + "\\E"


def _repl_q(s: str) -> str:
    """Escape a regexp_replace replacement ($ group refs, backslashes)."""
    return s.replace("\\", "\\\\").replace("$", "\\$")


def _merge_pattern(a: str, b: str) -> str:
    """Match the adjacent symbol pair ``a b`` on word boundaries of the
    space-joined symbol string. Lookarounds (not consumed spaces) keep
    back-to-back occurrences both replaceable — ``a b a b`` → ``ab ab``,
    where a space-consuming pattern would miss the second."""
    return f"(?:(?<=^)|(?<= )){_java_q(a)} {_java_q(b)}(?=$| )"


#: :func:`apply_bpe` applies a merge list of up to this many merges as
#: chained codegen ``regexp_replace`` passes, a longer one through the
#: rank-dict Arrow encoder (expression depth independent of vocab size).
_MAX_CHAINED_MERGES = 256


def _chained_merges(s: Column, merges: list[tuple[str, str]]) -> Column:
    """Apply ``merges`` in training order to a space-joined symbol string
    column: one ``regexp_replace`` of :func:`_merge_pattern` per merge —
    pure codegen; the expression tree grows with ``len(merges)``."""
    for a, b in merges:
        s = F.regexp_replace(s, _merge_pattern(a, b), _repl_q(a + b))
    return s


#: GPT-2's pre-tokenizer (public gpt-2/src/encoder.py `pat`): contractions,
#: optionally-space-prefixed letter/number/punct runs, and whitespace runs
#: that yield their final character to the following token (the
#: ``\s+(?!\S)`` lookahead). java.util.regex supports the lookahead and
#: Unicode \p{L}/\p{N} natively, so the Spark side runs the TRUE pattern;
#: the DuckDB oracle emulates the lookahead with a sentinel-marking
#: rewrite (see `_bpe_byte_oracle_sql` in __spark_entry__.py).
GPT2_SPLIT_RE = (
    r"'s|'t|'re|'ve|'m|'ll|'d"
    r"| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+(?!\S)|\s+"
)


def _bytes_to_unicode() -> dict[int, str]:
    """GPT-2's byte↔unicode bijection (public gpt-2/src/encoder.py
    ``bytes_to_unicode``): printable latin-1 bytes map to themselves;
    the 68 others (controls, space, DEL..NBSP, SHY) map to 256+rank so
    every byte is a visible character and no symbol ever contains the
    ' ' the space-joined symbol strings use as separator."""
    bs = (
        list(range(ord("!"), ord("~") + 1))
        + list(range(0xA1, 0xAC + 1))
        + list(range(0xAE, 0xFF + 1))
    )
    cs = bs[:]
    n = 0
    for b in range(256):
        if b not in bs:
            bs.append(b)
            cs.append(256 + n)
            n += 1
    return dict(zip(bs, (chr(c) for c in cs)))


def byte_pretokens(
    col: Column, special_tokens: list[str] | None = None
) -> Column:
    """GPT-2 pre-tokens of a text column — one ``regexp_extract_all``,
    pure codegen. ``special_tokens`` (e.g. ``<|endoftext|>``) are
    prepended to the alternation, so the left-to-right first-match scan
    extracts them ATOMICALLY wherever they occur; elsewhere their
    constituent characters tokenize normally."""
    pat = GPT2_SPLIT_RE
    if special_tokens:
        pat = (
            "|".join(_java_q(s) for s in sorted(special_tokens, key=len, reverse=True))
            + "|"
            + pat
        )
    return F.regexp_extract_all(col, F.lit("(" + pat + ")"), 1)


def bpe_token_count(
    text_col: Column,
    merges: list[tuple[str, str]],
    special_tokens: list[str] | None = None,
) -> Column:
    """Tokenizer-TRUE token count of a text column under a trained
    byte-level BPE vocabulary — as a pure-codegen Column (no UDF, no
    shuffle, no extra pass): GPT-2 pre-tokens via
    :func:`byte_pretokens`, each pre-token's bytes remapped through a
    256-char literal LUT (one ``substr`` per byte — ``chr()`` can't
    reach the 256..323 remap range but indexing a literal can), the
    merge list applied by :func:`_chained_merges`, and the
    final symbol counts folded with ``aggregate``. This is the count
    column :func:`corpus.sequence_pack` / ``budget_sample`` should see
    when the run uses a real tokenizer — whitespace counts misplace
    every packing offset the trainer will actually train on.

    Codegen path only: the expression tree grows with ``len(merges)``,
    so cap at a few hundred merges (the :data:`_MAX_CHAINED_MERGES`
    regime of :func:`apply_bpe`). For production 32k-merge vocabs,
    precompute per-doc counts once with ``apply_bpe(byte_level=True)``
    and pass that column — the packing math is count-agnostic."""
    b2u = _bytes_to_unicode()
    lut = "".join(b2u[v] for v in range(256))
    specials = list(special_tokens or ())

    def count_one(w: Column) -> Column:
        hx = F.hex(F.encode(w, "UTF-8"))
        syms = F.transform(
            F.sequence(F.lit(1), (F.length(hx) / 2).cast("int")),
            lambda i: F.substr(
                F.lit(lut),
                F.conv(F.substr(hx, i * 2 - 1, F.lit(2)), 16, 10).cast(
                    "int"
                )
                + 1,
                F.lit(1),
            ),
        )
        s = _chained_merges(F.array_join(syms, " "), merges)
        n = F.size(F.split(s, " ")).cast("long")
        guarded = F.when(F.length(w) == 0, F.lit(0).cast("long")).otherwise(n)
        if specials:
            guarded = F.when(
                w.isin(*specials), F.lit(1).cast("long")
            ).otherwise(guarded)
        return guarded

    return F.aggregate(
        byte_pretokens(F.coalesce(text_col, F.lit("")), special_tokens),
        F.lit(0).cast("long"),
        lambda acc, w: acc + count_one(w),
    )


def _word_histogram(
    df: DataFrame,
    words: Column,
    cap: int,
    sample_frac: float | None,
    sample_id_col: str | None,
    sample_salt: str,
) -> list[tuple[str, int]]:
    """The one distributed step of the in-driver tokenizer trainers: the
    top-``cap`` (word, count) histogram of the ``words`` array column,
    count desc then word asc (fully deterministic), in one collect.
    ``sample_frac`` first keeps a deterministic md5-threshold sample keyed
    on ``sample_id_col`` (the corpus-assembly sampler — no RNG, replayable
    anywhere)."""
    if sample_frac is not None:
        if sample_id_col is None:
            raise ValueError("sample_frac requires sample_id_col")
        from kusto_pre_forge_spark.operators.corpus import _hash_unit

        df = df.filter(
            _hash_unit(F.col(sample_id_col).cast("string"), sample_salt)
            < F.lit(float(sample_frac))
        )
    rows = (
        df.select(F.explode(words).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("w").asc())
        .limit(cap)
        .collect()
    )
    return [(r["w"], int(r["cnt"])) for r in rows]


def _merge_pair(syms, a: str, b: str) -> list[str]:
    """Every adjacent ``(a, b)`` in ``syms`` fused into ``a + b``, greedy
    left to right, non-overlapping — the one merge step of training and
    encoding (the semantics :func:`_chained_merges` runs as a regex)."""
    out: list[str] = []
    i, n = 0, len(syms)
    while i < n:
        if i + 1 < n and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _train_pair_merges(
    words: list[tuple[list[str], int]],
    n_merges: int,
    min_pair_count: int,
    score,
) -> list[tuple[str, str]]:
    """In-driver merge training over (initial symbols, count) words — the
    incremental pair-statistics algorithm of Sennrich et al.'s public
    ``learn_bpe.py`` (ACL'16): a pair→{word_idx: occurrences} index
    means each merge touches only the words containing the pair, so 32k
    merges over a 1M-word histogram run in minutes of pure Python with
    NO per-merge jobs. Each round merges, by :func:`_merge_pair`, the
    pair with the highest ``score((a, b), count_ab, unit_counts)`` among
    pairs occurring at least ``min_pair_count`` times, tie-break
    (score desc, pair asc), and stops when no pair qualifies. Symbol
    (unit) counts update with every fusion. Returns the merges in
    training order."""
    from collections import defaultdict

    vocab = list(words)
    stats: dict[tuple[str, str], int] = defaultdict(int)
    units: dict[str, int] = defaultdict(int)
    indices: dict[tuple[str, str], dict[int, int]] = defaultdict(
        lambda: defaultdict(int)
    )

    def add(wi: int, syms, c: int) -> None:
        for p in zip(syms, syms[1:]):
            stats[p] += c
            indices[p][wi] += 1

    def retract(wi: int, syms, c: int) -> None:
        # emptied entries drop, so only live pairs compete
        for p in zip(syms, syms[1:]):
            stats[p] -= c
            if stats[p] <= 0:
                del stats[p]
            d = indices[p]
            d[wi] -= 1
            if d[wi] <= 0:
                del d[wi]

    for wi, (syms, c) in enumerate(vocab):
        add(wi, syms, c)
        for s in syms:
            units[s] += c
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        best = min(
            (
                (-score(p, n, units), p)
                for p, n in stats.items()
                if n >= min_pair_count
            ),
            default=None,
        )
        if best is None:
            break
        a, b = best[1]
        merges.append((a, b))
        for wi in list(indices[(a, b)]):
            syms, c = vocab[wi]
            retract(wi, syms, c)
            merged = _merge_pair(syms, a, b)
            add(wi, merged, c)
            vocab[wi] = (merged, c)
            # each fusion turns one a and one b into one ab
            k = (len(syms) - len(merged)) * c
            units[a] -= k
            units[b] -= k
            units[a + b] += k
    return merges


def _train_bpe_driver(
    word_counts: list[tuple[str, int]],
    n_merges: int,
    min_pair_count: int,
    to_symbols=None,
) -> list[tuple[str, str]]:
    """In-driver sequential BPE over a (word, count) histogram:
    :func:`_train_pair_merges` scored by raw pair count — (count desc,
    pair asc) tie-break, stop under ``min_pair_count``; the greedy
    left-to-right non-overlapping merge is the chained-regex semantics
    of :func:`apply_bpe`. ``to_symbols`` overrides the initial
    word→symbols split (default Sennrich characters + ``</w>``; the
    byte-level path passes the GPT-2 byte alphabet and no end
    marker)."""
    if to_symbols is None:
        to_symbols = lambda w: list(w) + ["</w>"]  # noqa: E731
    return _train_pair_merges(
        [(to_symbols(w), c) for w, c in word_counts],
        n_merges,
        min_pair_count,
        score=lambda p, n_ab, units: n_ab,
    )


def train_bpe(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
    min_pair_count: int = 2,
    sample_frac: float | None = None,
    sample_id_col: str | None = None,
    sample_salt: str = "kpf-bpe",
    driver_vocab_cap: int | None = None,
    byte_level: bool = False,
    special_tokens: list[str] | None = None,
) -> list[tuple[str, str]]:
    """Learn byte-pair-encoding merge rules from the corpus — the standard
    Sennrich et al. procedure, split the way real tokenizer trainers split
    it: the distributed job is the word-count scan (the only part that
    touches 100 TB), and the merge loop runs over the top-``cap`` (count
    desc, word asc — fully deterministic) word histogram IN THE DRIVER
    with Sennrich's incremental pair-index algorithm
    (:func:`_train_bpe_driver`). Training is one histogram collect
    whatever ``n_merges`` is: zero Spark jobs per merge, 32k merges in
    minutes, driver traffic = one bounded histogram (1M words ≈ tens of
    MB). Returns the merge list for :func:`apply_bpe`.

    ``driver_vocab_cap`` defaults to 1M words. When the distinct-word
    count is within the cap the merges are EXACTLY those of
    one-merge-at-a-time training (greedy left-to-right non-overlapping
    merge, (count desc, pair asc) tie-break, stop under
    ``min_pair_count`` — pinned in tests against an independent
    sequential reference). A larger vocabulary gets the same trade-off
    as :func:`train_unigram` and :func:`train_wordpiece`: the rarest
    words' pair mass is dropped. For huge corpora, ``sample_frac``
    (deterministic md5-threshold keep on ``sample_id_col``, the
    corpus-assembly sampler — no RNG, replayable anywhere) trains on a
    sample: pair statistics concentrate fast.

    ``byte_level=True`` is the GPT-2 lineage (public gpt-2/src/
    encoder.py): pre-tokens come from :data:`GPT2_SPLIT_RE` (case
    preserved, leading space attached, whitespace runs kept), each
    pre-token's UTF-8 BYTES remapped through ``bytes_to_unicode`` form
    the initial symbols, and there is no end-of-word marker — so a
    trained vocab has the exact shape production byte-level tokenizers
    ship, and every possible input is coverable (no OOV). Pre-tokens
    equal to a ``special_tokens`` entry are excluded from training —
    specials are atomic by fiat, never merged into. Otherwise words are
    the lower-cased whitespace tokens, split into characters plus a
    ``</w>`` end marker.
    """
    if byte_level:
        words = byte_pretokens(F.col(text_col), special_tokens)
        specials = set(special_tokens or ())
        b2u = _bytes_to_unicode()
        to_symbols = lambda w: [b2u[b] for b in w.encode("utf-8")]  # noqa: E731
    else:
        words = _words(F.lower(F.col(text_col)))
        specials = set()
        to_symbols = None
    cap = driver_vocab_cap if driver_vocab_cap is not None else 1_000_000
    hist = _word_histogram(df, words, cap, sample_frac, sample_id_col, sample_salt)
    return _train_bpe_driver(
        [(w, c) for w, c in hist if w not in specials],
        n_merges,
        min_pair_count,
        to_symbols=to_symbols,
    )


def _bpe_word_encoder(
    merges: list[tuple[str, str]],
    byte_level: bool,
    special_tokens: frozenset[str] = frozenset(),
):
    """word → its final BPE symbols, applying the merge list in TRAINING
    ORDER with :func:`_merge_pair` — the exact chained-regex semantics
    in a rank-dict loop: each merge costs one O(1) adjacent-pair set
    probe and only applying merges rebuild the symbol list, so 32k
    merges are ~32k set probes per word. Initial symbols are the GPT-2
    byte-remapped UTF-8 bytes (``byte_level``) or the characters plus
    ``</w>``; ``special_tokens`` stay one atomic symbol. Wrap it in
    :func:`_batch_memo` per Arrow batch."""
    merge_list = list(merges)
    b2u = _bytes_to_unicode()

    def encode(w: str) -> list[str]:
        if w in special_tokens:
            return [w]
        if byte_level:
            syms = [b2u[b] for b in w.encode("utf-8")]
        else:
            syms = list(w) + ["</w>"]
        present = set(zip(syms, syms[1:]))
        for a, b in merge_list:
            if (a, b) in present:
                syms = _merge_pair(syms, a, b)
                present = set(zip(syms, syms[1:]))
        return syms

    return encode


def _batch_memo(fn):
    """``fn`` memoized for one Arrow batch — repeated words (Zipf makes
    the hit rate high) run ``fn`` once; a fresh memo per batch keeps
    worker memory bounded."""
    memo: dict = {}

    def call(w):
        hit = memo.get(w)
        if hit is None:
            hit = memo[w] = fn(w)
        return hit

    return call


def _pieces_udf(split):
    """Arrow-batched word tokenizer around a per-word algorithm ``split``
    (word → pieces): returns ``(n, joined)`` — the piece count and the
    '|'-joined pieces. The separate count keeps words containing a
    literal '|' honest (the joined string is a display probe, not the
    token-count source)."""
    from pyspark.sql.functions import pandas_udf

    def pieces(w: str) -> tuple[int, str]:
        out = split(w)
        return len(out), "|".join(out)

    def tokenize_batch(words: pd.Series) -> pd.DataFrame:
        pairs = words.map(_batch_memo(pieces))
        return pd.DataFrame(
            {"n": pairs.map(lambda p: p[0]), "joined": pairs.map(lambda p: p[1])}
        )

    return pandas_udf(tokenize_batch, "n int, joined string")


def _distinct_word_apply(
    df: DataFrame, id_col: str, words: Column, tokenize
) -> DataFrame:
    """The apply plan every vocabulary-scale tokenizer shares: explode the
    ``words`` array → per-(doc, word) repetition counts ``_reps`` →
    DISTINCT words tokenize once through the :func:`_pieces_udf`
    ``tokenize`` (``_tk``) → join back on the word. Expression depth
    and per-row cost are independent of vocabulary size; the join keys
    are (word, count) aggregates, far smaller than the exploded word
    stream, and the tokenized side is |distinct words| rows — at 100 TB
    the only shape that survives a production vocabulary."""
    t = df.select(F.col(id_col), F.explode(words).alias("w"))
    per_word = t.groupBy(id_col, "w").agg(F.count(F.lit(1)).alias("_reps"))
    tokenized = (
        per_word.select("w")
        .distinct()
        .select("w", tokenize(F.col("w")).alias("_tk"))
    )
    return per_word.join(tokenized, "w")


def bpe_vocab_ids(merges: list[tuple[str, str]]) -> dict[str, int]:
    """The deterministic byte-level symbol→id table a trained merge
    list induces: ids 0..255 are the raw bytes (via the
    bytes_to_unicode symbol), merged tokens take 256+merge_rank. When
    two merges concatenate to the SAME string (('a','bc') and
    ('ab','c') both yield 'abc'), the FIRST rank wins — the rule the
    oracle's ordered CASE replays."""
    b2u = _bytes_to_unicode()
    ids = {c: v for v, c in b2u.items()}
    for i, (a, b) in enumerate(merges):
        ids.setdefault(a + b, 256 + i)
    return ids


def bpe_decode_ids(
    ids: list[int],
    merges: list[tuple[str, str]],
    vocab_ids: dict[str, int] | None = None,
) -> str:
    """Invert :func:`bpe_encode` — the LOSSLESSNESS pin byte-level BPE
    exists for: every id maps to its symbol string (raw byte 0..255 or
    a merge concatenation), symbols concatenate, and the
    bytes_to_unicode bijection inverts back to the original UTF-8
    bytes. decode(encode(text)) == text for ANY input text — there is
    no UNK and no normalization loss in this lineage (pinned in
    tests over adversarial Unicode)."""
    vocab = vocab_ids if vocab_ids is not None else bpe_vocab_ids(merges)
    rev: dict[int, str] = {}
    for tok, i in vocab.items():
        rev.setdefault(i, tok)
    u2b = {c: b for b, c in _bytes_to_unicode().items()}
    syms = "".join(rev[i] for i in ids)
    return bytes(u2b[ch] for ch in syms).decode("utf-8", "replace")


def _bpe_id_encoder(merges: list[tuple[str, str]], vocab_ids=None):
    """pre-token → integer ids: :func:`_bpe_word_encoder`'s byte-level
    symbols mapped through the :func:`bpe_vocab_ids` table. Byte-level
    has no UNK — every byte is id 0..255 by construction. ``vocab_ids``
    overrides the derived table — the imported-tokenizer path, where
    vocab.json is AUTHORITATIVE for ids (the HF/GPT-2 contract) and
    merges.txt only ranks the merges."""
    vocab = dict(vocab_ids) if vocab_ids is not None else bpe_vocab_ids(merges)
    symbols = _bpe_word_encoder(merges, byte_level=True)
    return lambda w: [vocab[t] for t in symbols(w)]


def _bpe_encode_doc_udf(merges: list[tuple[str, str]], vocab_ids=None):
    """Arrow-batched DOCUMENT encoder: array-of-pre-tokens in, flat id
    array out, through :func:`_bpe_id_encoder` with a per-batch memo
    over distinct pre-tokens."""
    from pyspark.sql.functions import pandas_udf

    ids_of = _bpe_id_encoder(merges, vocab_ids)

    def encode_batch(docs: pd.Series) -> pd.Series:
        enc = _batch_memo(ids_of)
        return docs.map(
            lambda ws: [i for w in (ws if ws is not None else []) for i in enc(w)]
        )

    return pandas_udf(encode_batch, "array<int>")


def _bpe_encode_segments_udf(
    merges: list[tuple[str, str]], vocab_ids=None
):
    """Arrow-batched SEGMENTED encoder — :func:`_bpe_encode_doc_udf`
    generalized to a VARIABLE number of (pre-token-array, mask-flag)
    segments per row (multi-turn conversations): each segment encodes
    separately through the same memoized encoder, ids concatenate in
    segment order, and the mask repeats each segment's flag once per
    emitted token — loss masks BY CONSTRUCTION, no offset mapping.
    ``segment_sizes`` carries the per-segment token counts (turn
    boundaries for packing / trainer bookkeeping). One Arrow
    projection; zero joins."""
    from pyspark.sql.functions import pandas_udf

    ids_of = _bpe_id_encoder(merges, vocab_ids)

    def encode_batch(rows: pd.Series) -> pd.DataFrame:
        enc = _batch_memo(ids_of)
        ids_col, mask_col, sizes_col = [], [], []
        for segs in rows:
            ids: list[int] = []
            mask: list[int] = []
            sizes: list[int] = []
            for seg in segs if segs is not None else []:
                toks = seg["toks"] if seg["toks"] is not None else []
                m = int(seg["m"] or 0)
                seg_ids = [i for w in toks for i in enc(w)]
                ids.extend(seg_ids)
                mask.extend([m] * len(seg_ids))
                sizes.append(len(seg_ids))
            ids_col.append(ids)
            mask_col.append(mask)
            sizes_col.append(sizes)
        return pd.DataFrame(
            {
                "input_ids": ids_col,
                "loss_mask": mask_col,
                "segment_sizes": sizes_col,
            }
        )

    return pandas_udf(
        encode_batch,
        "struct<input_ids:array<int>, loss_mask:array<int>, "
        "segment_sizes:array<int>>",
    )


def bpe_encode_arrays(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_ids: dict[str, int] | None = None,
) -> DataFrame:
    """(id, ids) with the FULL per-document token-id array in document
    order — the building block :func:`bpe_encode` (head probe) and
    :func:`corpus.materialize_packed_sequences` (trainer hand-off)
    share. ONE Arrow map stage: JVM-side pre-tokenization
    (``byte_pretokens``, pure codegen) feeds an array-in/array-out
    document encoder with a per-batch distinct-pre-token memo — zero
    exchanges, document order trivially preserved. (The earlier
    posexplode → distinct-word join → collect_list shape paid three
    shuffles to deduplicate pre-token work globally; the batch memo
    captures the same Zipf mass without any of them.)"""
    return df.select(
        F.col(id_col),
        _bpe_encode_doc_udf(merges, vocab_ids)(
            byte_pretokens(F.coalesce(F.col(text_col), F.lit("")))
        ).alias("ids"),
    )


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    head: int = 16,
) -> DataFrame:
    """Encode documents to the INTEGER TOKEN IDS a trainer actually
    consumes (byte-level vocab: bytes 0..255 + 256+rank per merge, no
    UNK possible). Returns (id, n_tokens, ids_head) where ids_head is
    the first ``head`` ids comma-joined — the human-checkable (and
    oracle-hashable) probe; full id arrays stay distributed.

    Plan: the one Arrow map of :func:`bpe_encode_arrays` (codegen
    pre-tokens, per-batch memoized document encoder, document order
    kept by construction) plus a codegen projection — no exchange of
    its own."""
    per_doc = bpe_encode_arrays(df, merges, text_col, id_col)
    return per_doc.select(
        F.col(id_col),
        F.size("ids").cast("long").alias("n_tokens"),
        F.concat_ws(
            ",",
            F.transform(
                F.slice("ids", 1, int(head)), lambda v: v.cast("string")
            ),
        ).alias("ids_head"),
    )


def apply_bpe(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    byte_level: bool = False,
    special_tokens: list[str] | None = None,
) -> DataFrame:
    """Tokenize with learned BPE merges: per word, start from characters +
    ``</w>`` and apply each merge in training order (greedy left-to-right
    non-overlapping per merge). Returns (id, n_words, n_bpe_tokens,
    sample_tokens) where sample_tokens is the first word's final symbol
    sequence (a human-checkable probe).

    Two physically different, semantically IDENTICAL paths (equivalence
    pinned in tests), chosen from ``len(merges)``:

    - up to :data:`_MAX_CHAINED_MERGES` merges: :func:`_chained_merges`
      over the space-joined symbol string — all codegen, no UDF, no
      extra shuffle. Right for small vocabularies, but at 32k merges
      the expression tree itself (32k nested regex nodes) would sink
      Catalyst analysis/codegen long before data size matters.
    - beyond it: :func:`_distinct_word_apply` with the rank-dict
      :func:`_bpe_word_encoder` — the plan's expression depth is then
      independent of vocabulary size.

    ``byte_level=True`` applies a GPT-2-lineage vocabulary (train with
    ``train_bpe(byte_level=True)``): GPT-2 regex pre-tokens (case
    preserved, whitespace tokens kept), byte-remapped initial symbols,
    no end marker; ``special_tokens`` extract atomically and pass
    through as single tokens. Always the rank-dict path — real
    byte-level vocabs are 32k+ merges.
    """
    if byte_level:
        words = byte_pretokens(F.col(text_col), special_tokens)
    else:
        words = _words(F.lower(F.col(text_col)))
    if not byte_level and len(merges) <= _MAX_CHAINED_MERGES:
        t = df.select(F.col(id_col), F.explode(words).alias("w"))
        s = F.concat(
            F.array_join(F.filter(F.split(F.col("w"), ""), lambda c: c != ""), " "),
            F.lit(" </w>"),
        )
        t = t.select(id_col, F.split(_chained_merges(s, merges), " ").alias("toks"))
        return t.groupBy(id_col).agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum(F.size("toks")).cast("long").alias("n_bpe_tokens"),
            F.min(F.array_join("toks", "|")).alias("sample_tokens"),
        )
    encode = _bpe_word_encoder(
        merges, byte_level, frozenset(special_tokens or ())
    )
    joined = _distinct_word_apply(df, id_col, words, _pieces_udf(encode))
    return joined.groupBy(id_col).agg(
        F.sum("_reps").cast("long").alias("n_words"),
        F.sum(F.col("_reps") * F.col("_tk.n")).cast("long").alias("n_bpe_tokens"),
        F.min("_tk.joined").alias("sample_tokens"),
    )


def _text_udf(fn, name: str):
    from pyspark.sql.functions import pandas_udf

    def wrapped(s: pd.Series) -> pd.Series:
        return s.map(lambda v: None if v is None else fn(v))

    wrapped.__name__ = name
    return pandas_udf(wrapped, "string")


def normalize_unicode(col: Column | str, form: str = "NFC") -> Column:
    """Unicode normalization (NFC/NFD/NFKC/NFKD) — the canonicalization
    step every dedup/tokenizer pipeline needs before hashing (visually
    identical strings with different codepoint sequences must collide).
    Arrow-batched pandas_udf over ``unicodedata`` (no JVM builtin)."""
    import unicodedata

    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")
    c = F.col(col) if isinstance(col, str) else col
    return _text_udf(lambda v: unicodedata.normalize(form, v), f"norm_{form}")(c)


def strip_accents(col: Column | str) -> Column:
    """Accent folding: NFD-decompose and drop combining marks (café→cafe).
    Precomposed letters WITHOUT a canonical decomposition (ø, ł, đ …)
    pass through unchanged — the NFD definition of accent stripping, which
    is the replayable one (ICU-transliteration strippers also map ø→o but
    are version-dependent)."""
    import unicodedata

    c = F.col(col) if isinstance(col, str) else col
    return _text_udf(
        lambda v: "".join(
            ch
            for ch in unicodedata.normalize("NFD", v)
            if not unicodedata.combining(ch)
        ),
        "strip_accents",
    )(c)


def url_normalize(col: Column | str) -> Column:
    """Crawl-style URL canonicalization — the key-generation step of URL
    dedup (the same page arrives as http/https, with fragments, default
    ports, unsorted query params, trailing slashes):

    - scheme + host + PATH lowercased (aggressive-dedup choice; query
      values keep their case), scheme collapsed to https;
    - default ports (:80/:443) dropped;
    - fragment dropped;
    - query parameters SORTED (split & → array_sort → rejoin);
    - trailing slash trimmed from non-root paths.

    Pure codegen (regexp + array HOFs) — at 100 TB this runs inside the
    scan projection. Malformed input passes through lowercased (a dedup
    key must never be null for a present URL). The RFC-conservative
    sibling — tracker/userinfo stripping, case semantics preserved,
    NULL on non-URLs — is :func:`canonicalize_url`.
    """
    c = F.trim(F.col(col) if isinstance(col, str) else col)
    no_frag = F.regexp_replace(c, r"#.*$", "")
    lowered = F.concat(
        F.lower(F.regexp_extract(no_frag, r"^([^?]*)", 1)),
        F.regexp_extract(no_frag, r"(\?.*)?$", 1),
    )
    https = F.regexp_replace(lowered, r"^http://", "https://")
    no_port = F.regexp_replace(https, r"^(https://[^/:?]+):(?:80|443)(?=[/?]|$)", "$1")
    path = F.regexp_extract(no_port, r"^([^?]*)", 1)
    query = F.regexp_extract(no_port, r"\?(.*)$", 1)
    path_trimmed = F.when(
        path.rlike(r"^https://[^/]+/.+/$"),
        F.substring(path, 1, F.length(path) - 1),
    ).otherwise(path)
    sorted_q = F.array_join(F.array_sort(F.split(query, "&")), "&")
    return F.when(
        query == "", path_trimmed
    ).otherwise(F.concat(path_trimmed, F.lit("?"), sorted_q))


# ---------------------------------------------------------------------------
# Unigram-LM tokenizer (SentencePiece-style; Kudo, ACL 2018)
# ---------------------------------------------------------------------------


def _unigram_em_pass(
    hist: list[tuple[str, int]],
    pieces: dict[str, float],
    max_piece_len: int,
) -> tuple[dict[str, float], float]:
    """One full EM iteration over the word histogram: forward-backward
    expected piece counts (E) then re-normalized log-probs (M). Returns
    (new_logp, corpus_log_likelihood_before_update). Pure driver-side
    numpy-free Python over the CAPPED histogram — the distributed part of
    training is the word-count scan that produced ``hist``."""
    from collections import defaultdict
    from math import exp, inf, log

    def logsumexp2(a: float, b: float) -> float:
        if a == -inf:
            return b
        if b == -inf:
            return a
        m = a if a > b else b
        return m + log(exp(a - m) + exp(b - m))

    expected: dict[str, float] = defaultdict(float)
    ll = 0.0
    for w, cnt in hist:
        n = len(w)
        # forward
        alpha = [-inf] * (n + 1)
        alpha[0] = 0.0
        for i in range(1, n + 1):
            for l in range(1, min(max_piece_len, i) + 1):
                lp = pieces.get(w[i - l : i])
                if lp is None:
                    continue
                if alpha[i - l] != -inf:
                    alpha[i] = logsumexp2(alpha[i], alpha[i - l] + lp)
        if alpha[n] == -inf:
            continue  # unrepresentable under current vocab (no char piece)
        # backward
        beta = [-inf] * (n + 1)
        beta[n] = 0.0
        for i in range(n - 1, -1, -1):
            for l in range(1, min(max_piece_len, n - i) + 1):
                lp = pieces.get(w[i : i + l])
                if lp is None:
                    continue
                if beta[i + l] != -inf:
                    beta[i] = logsumexp2(beta[i], beta[i + l] + lp)
        ll += cnt * alpha[n]
        # expected occupancy of every lattice edge
        for i in range(n):
            if alpha[i] == -inf:
                continue
            for l in range(1, min(max_piece_len, n - i) + 1):
                p = w[i : i + l]
                lp = pieces.get(p)
                if lp is None or beta[i + l] == -inf:
                    continue
                expected[p] += cnt * exp(alpha[i] + lp + beta[i + l] - alpha[n])
    total = sum(expected.values())
    if total <= 0.0:
        return dict(pieces), ll
    lt = log(total)
    floor = log(1e-12)
    new_logp = {
        p: (log(expected[p]) - lt) if expected.get(p, 0.0) > 0.0 else floor
        for p in pieces
    }
    return new_logp, ll


def _train_unigram_driver(
    hist: list[tuple[str, int]],
    vocab_size: int,
    max_piece_len: int,
    seed_size: int,
    n_em_iters: int,
    prune_frac: float,
    ll_trace: list[float] | None = None,
) -> list[tuple[str, float]]:
    """In-driver unigram-LM training (Kudo 2018 §3.2) over a word
    histogram: substring-frequency seeding, EM re-estimation, iterative
    expected-count pruning (the standard simplification of the
    likelihood-loss prune; single-character pieces are never pruned so
    every string stays representable). Deterministic: seeds and prune
    survivors rank by (score desc, piece asc); EM visits words in
    histogram order with plain-Python accumulation."""
    from collections import defaultdict
    from math import log

    # seed: every substring up to max_piece_len, frequency-weighted
    freq: dict[str, int] = defaultdict(int)
    for w, cnt in hist:
        n = len(w)
        for i in range(n):
            for l in range(1, min(max_piece_len, n - i) + 1):
                freq[w[i : i + l]] += cnt
    chars = {p for p in freq if len(p) == 1}
    multi = sorted(
        ((p, c) for p, c in freq.items() if len(p) > 1),
        key=lambda pc: (-pc[1], pc[0]),
    )[: max(seed_size - len(chars), 0)]
    seed = {p: float(c) for p, c in multi}
    seed.update({p: float(freq[p]) for p in chars})
    total = sum(seed.values())
    pieces = {p: log(c / total) for p, c in seed.items()}

    while True:
        for _ in range(max(n_em_iters, 1)):
            pieces, ll = _unigram_em_pass(hist, pieces, max_piece_len)
            if ll_trace is not None:
                ll_trace.append(ll)
        n_multi = sum(1 for p in pieces if len(p) > 1)
        target_multi = max(vocab_size - len(chars), 0)
        if n_multi <= target_multi:
            break
        keep_multi = max(target_multi, int(n_multi * prune_frac))
        if keep_multi >= n_multi:
            keep_multi = target_multi
        ranked = sorted(
            ((p, lp) for p, lp in pieces.items() if len(p) > 1),
            key=lambda plp: (-plp[1], plp[0]),
        )[:keep_multi]
        pieces = {p: lp for p, lp in ranked}
        pieces.update(
            {p: lp for p, lp in _relog_chars(chars, freq).items()}
        )
        # re-normalize is done by the next EM pass
    return sorted(pieces.items())


def _relog_chars(chars: set, freq: dict) -> dict[str, float]:
    from math import log

    total = sum(freq[c] for c in chars)
    return {c: log(freq[c] / total) - log(1e3) for c in chars}


def train_unigram(
    df: DataFrame,
    text_col: str = "text",
    vocab_size: int = 200,
    max_piece_len: int = 8,
    seed_size: int | None = None,
    n_em_iters: int = 2,
    prune_frac: float = 0.75,
    driver_word_cap: int = 100_000,
    sample_frac: float | None = None,
    sample_id_col: str | None = None,
    sample_salt: str = "kpf-unigram",
) -> list[tuple[str, float]]:
    """Train a unigram-LM subword vocabulary (SentencePiece's unigram
    model — Kudo, ACL 2018) the way production trainers do: the ONLY part
    that touches the corpus is one distributed word-count scan (the
    100 TB-shaped job — explode + map-side-combined groupBy); the EM +
    prune loop runs in the driver over the top-``driver_word_cap``
    (count desc, word asc — deterministic) histogram, exactly the
    :func:`train_bpe` ``driver_vocab_cap`` pattern. Driver traffic is the
    bounded histogram, zero Spark jobs per EM iteration.

    ``sample_frac`` composes the deterministic md5-threshold sampler in
    front of the scan for corpora where even the histogram pass should
    run on a slice. Returns a sorted (piece, logp) list for
    :func:`apply_unigram`; all single characters of the capped histogram
    are always in the vocabulary, so any of its words reconstructs
    exactly (unseen characters fall back per-char at apply time).
    """
    hist = _word_histogram(
        df,
        _words(F.lower(F.col(text_col))),
        driver_word_cap,
        sample_frac,
        sample_id_col,
        sample_salt,
    )
    if not hist:
        return []
    return _train_unigram_driver(
        hist,
        vocab_size=vocab_size,
        max_piece_len=max_piece_len,
        seed_size=seed_size if seed_size is not None else 8 * vocab_size,
        n_em_iters=n_em_iters,
        prune_frac=prune_frac,
    )


def _unigram_tokenize_udf(vocab: list[tuple[str, float]]):
    """Arrow-batched Viterbi segmenter: per DISTINCT word, best[i] = max
    over pieces ending at i of best[j] + logp(piece); unseen characters
    fall back to a per-char unk penalty so concatenating the pieces
    always rebuilds the word. Ties resolve to the FIRST accepted length
    (shortest piece — lengths scan ascending, strict improvement
    required), making the path deterministic."""
    table = dict(vocab)
    max_len = max((len(p) for p in table), default=1)
    unk = (min(table.values(), default=0.0)) - 10.0
    NEG = float("-inf")

    def viterbi(w: str) -> list[str]:
        n = len(w)
        best = [NEG] * (n + 1)
        best[0] = 0.0
        back = [0] * (n + 1)
        for i in range(1, n + 1):
            for l in range(1, min(max_len, i) + 1):
                piece = w[i - l : i]
                lp = table.get(piece)
                if lp is None:
                    if l != 1:
                        continue
                    lp = unk
                if best[i - l] == NEG:
                    continue
                sc = best[i - l] + lp
                if sc > best[i]:
                    best[i] = sc
                    back[i] = i - l
        out = []
        i = n
        while i > 0:
            j = back[i]
            out.append(w[j:i])
            i = j
        out.reverse()
        return out

    return _pieces_udf(viterbi)


def _piece_stats(joined: DataFrame, id_col: str) -> DataFrame:
    """Per-doc (n_words, n_pieces, piece_chars, reconstruct_ok,
    sample_pieces) over :func:`_distinct_word_apply` output — the
    contract :func:`apply_unigram` and :func:`apply_wordpiece` share.
    Piece-partition check without splitting on '|' (words may contain a
    literal '|'): the join adds exactly n-1 separator chars, so
    len(joined) - (n-1) == len(word) iff the pieces partition the
    word."""
    chars = F.length("_tk.joined") - (F.col("_tk.n") - F.lit(1))
    return joined.withColumn("_ok", chars == F.length("w")).groupBy(id_col).agg(
        F.sum("_reps").cast("long").alias("n_words"),
        F.sum(F.col("_reps") * F.col("_tk.n")).cast("long").alias("n_pieces"),
        F.sum(F.col("_reps") * chars).cast("long").alias("piece_chars"),
        F.min("_ok").alias("reconstruct_ok"),
        F.min("_tk.joined").alias("sample_pieces"),
    )


def apply_unigram(
    df: DataFrame,
    vocab: list[tuple[str, float]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenize with a trained unigram vocabulary: Viterbi
    maximum-likelihood segmentation per word (Kudo 2018 §3.1) through
    :func:`_distinct_word_apply` — the vocabulary rides the closure,
    DISTINCT words tokenize once, results join back to per-(doc, word)
    counts.

    Returns (id, n_words, n_pieces, piece_chars, reconstruct_ok,
    sample_pieces): ``piece_chars`` is Σ characters across pieces —
    equal to Σ word lengths BY CONSTRUCTION (Viterbi paths partition the
    word; unseen characters fall back per-char), which makes it and
    ``reconstruct_ok`` exactly predictable by an engine that never saw
    the vocabulary — the oracle hook. ``n_pieces`` is bounded by
    [n_words, piece_chars]."""
    words = _words(F.lower(F.col(text_col)))
    joined = _distinct_word_apply(df, id_col, words, _unigram_tokenize_udf(vocab))
    return _piece_stats(joined, id_col)


# ---------------------------------------------------------------------------
# WordPiece tokenizer (Schuster & Nakajima 2012; BERT's tokenizer)
# ---------------------------------------------------------------------------


def _train_wordpiece_driver(
    word_counts: list[tuple[str, int]],
    n_merges: int,
    min_pair_count: int = 2,
) -> list[str]:
    """In-driver WordPiece training over a (word, count) histogram:
    :func:`_train_pair_merges` with pairs ranked by the LIKELIHOOD score
    count(ab)/(count(a)·count(b)) — merge the pair whose fusion most
    increases a unigram LM's corpus likelihood (Schuster & Nakajima 2012
    §4; BERT). Tie-break (score desc, pair asc); pairs under
    ``min_pair_count`` raw occurrences never merge. Returns the PIECE
    vocabulary (single chars + merge results) for the greedy
    longest-match :func:`apply_wordpiece` — WordPiece apply consults the
    vocab, not the merge order. No end-of-word marker: pieces partition
    the raw word (the repo's oracle identity), isomorphic to BERT's
    ``##`` continuation convention."""
    words = [(list(w), c) for w, c in word_counts if w]
    merges = _train_pair_merges(
        words,
        n_merges,
        min_pair_count,
        score=lambda p, n_ab, units: n_ab / (units[p[0]] * units[p[1]]),
    )
    return sorted({s for syms, _ in words for s in syms} | {a + b for a, b in merges})


def train_wordpiece(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 64,
    min_pair_count: int = 2,
    driver_word_cap: int = 100_000,
    sample_frac: float | None = None,
    sample_id_col: str | None = None,
    sample_salt: str = "kpf-wordpiece",
) -> list[str]:
    """Train a WordPiece vocabulary: the distributed job is the same
    word-count scan as :func:`train_bpe` / :func:`train_unigram` (the
    only stage that touches 100 TB); the likelihood-scored merge loop
    runs in-driver over the capped histogram — the BERT trainer shape.
    Returns the sorted piece vocabulary for :func:`apply_wordpiece`."""
    hist = _word_histogram(
        df,
        _words(F.lower(F.col(text_col))),
        driver_word_cap,
        sample_frac,
        sample_id_col,
        sample_salt,
    )
    return _train_wordpiece_driver(hist, n_merges, min_pair_count)


def _wordpiece_tokenize_udf(pieces: list[str]):
    """Arrow-batched greedy longest-match-first segmenter (the WordPiece
    apply rule — NOT merge-order replay): at each position take the
    longest vocab piece matching the remaining prefix; unseen characters
    fall back to themselves, so pieces always partition the word."""
    table = set(pieces)
    max_len = max((len(p) for p in table), default=1)

    def longest_match(w: str) -> list[str]:
        out = []
        i, n = 0, len(w)
        while i < n:
            piece = w[i : i + 1]
            for l in range(min(max_len, n - i), 1, -1):
                cand = w[i : i + l]
                if cand in table:
                    piece = cand
                    break
            out.append(piece)
            i += len(piece)
        return out

    return _pieces_udf(longest_match)


def apply_wordpiece(
    df: DataFrame,
    pieces: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenize with a WordPiece vocabulary: greedy longest-match-first
    per word. Same distributed shape as :func:`apply_unigram` (DISTINCT
    words tokenize once, join back to per-(doc, word) counts) and the
    same :func:`_piece_stats` contract — the piece-partition identity
    makes ``piece_chars`` and the flags engine-independent oracle
    hooks."""
    words = _words(F.lower(F.col(text_col)))
    joined = _distinct_word_apply(df, id_col, words, _wordpiece_tokenize_udf(pieces))
    return _piece_stats(joined, id_col)


#: characters whose UTF-8 bytes, mis-decoded as cp1252, produce the classic
#: "Ã©"-style mojibake. The repair pairs are GENERATED from the encoding
#: rule itself (ch.encode('utf-8').decode('cp1252')) — no hand-typed
#: tables to get wrong; chars whose UTF-8 bytes hit cp1252's five
#: undefined codepoints are skipped (they can't round-trip as text).
MOJIBAKE_CHARS = (
    "áàâäãéèêëíìîïóòôöõúùûüçñß"
    "ÁÀÂÄÉÈÊËÍÎÓÔÖÚÜÇÑ"
    "€£°«»‘’“”–—…™•ºª¿¡"
)


def mojibake_pairs() -> list[tuple[str, str]]:
    """(mojibake, repaired) replace pairs, longest mojibake first so
    3-byte sequences ('â€™') repair before their 2-byte prefixes could
    misfire. Deterministic order (length desc, then the sequence)."""
    pairs = []
    for ch in MOJIBAKE_CHARS:
        try:
            pairs.append((ch.encode("utf-8").decode("cp1252"), ch))
        except UnicodeDecodeError:
            continue
    return sorted(pairs, key=lambda p: (-len(p[0]), p[0]))


def fix_mojibake(
    df: DataFrame,
    text_col: str,
    id_col: str,
    out_col: str = "fixed",
) -> DataFrame:
    """Repair UTF-8-decoded-as-cp1252 mojibake ('Ã©' → 'é', 'â€™' → '’')
    — the single most common crawl-corpus encoding damage. The repair is
    a chain of LITERAL replaces (one codegen projection, no regex, no
    UDF), applied longest-sequence-first; an external engine replays the
    identical chain, so the repaired text is engine-exact.

    Returns (id, out_col, chars_removed, changed): every repair shrinks
    the text (2→1 or 3→1 chars), so ``chars_removed`` is a cheap damage
    meter and ``changed`` flags rows that needed repair at all.
    """
    c = F.col(text_col)
    fixed = c
    for moji, ch in mojibake_pairs():
        fixed = F.replace(fixed, F.lit(moji), F.lit(ch))
    return df.select(
        id_col,
        fixed.alias(out_col),
        (F.length(c) - F.length(fixed)).cast("long").alias("chars_removed"),
        (F.length(c) != F.length(fixed)).alias("changed"),
    )


# --- HTML main-content extraction ------------------------------------------
#
# The first transform of every crawl pipeline: raw HTML -> the page's main
# text, with navigation / boilerplate chrome dropped. C4 (Raffel et al.
# 2020 §2.2) and Gopher (Rae et al. 2021, App. A) are both DEFINED over
# extracted web text; nothing downstream (quality filters, dedup, mixtures)
# is meaningful on tag soup. The keep rule is the jusText/Boilerpipe
# heuristic family (Pomikálek 2011; Kohlschütter et al., WSDM 2010) reduced
# to an engine-replayable form: block segmentation on structural tags +
# per-block word-count and LINK-DENSITY thresholds (chrome is short and
# link-heavy; body text is long and link-light).
#
# Every stage is a deterministic regex/literal-replace chain shared (via
# these module constants) with the DuckDB oracle generator, so an external
# engine replays the extraction byte-for-byte. ASCII whitespace classes
# are written explicitly ([ \t\n\x0b\f\r]) — Java and RE2 disagree on \s.

# elements whose ENTIRE subtree is chrome/non-content: dropped before
# block segmentation (non-greedy open..close match; nested same-tag
# islands are rare in real chrome and degrade to extra-aggressive drops)
HTML_DROP_ELEMENTS = (
    "script", "style", "noscript", "svg", "iframe", "head",
    "nav", "header", "footer", "aside", "form", "select", "button",
)
# structural tags that delimit text blocks (the jusText segmentation set)
HTML_BLOCK_TAGS = (
    "p", "div", "li", "ul", "ol", "h[1-6]", "table", "thead", "tbody",
    "tr", "td", "th", "section", "article", "blockquote", "pre", "main",
    "figure", "figcaption", "dl", "dt", "dd", "hr", "br",
)
# the common named/numeric entities, decoded LITERALLY (no regex);
# &amp; must come last so "&amp;lt;" decodes to "&lt;", not "<"
HTML_ENTITY_PAIRS = (
    ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'"),
    ("&apos;", "'"), ("&nbsp;", " "), ("&amp;", "&"),
)
HTML_COMMENT_RE = r"<!--.*?-->"
HTML_TAG_RE = r"<[^>]*>"
HTML_ANCHOR_RE = r"(?is)<a\b[^>]*>.*?</a[ \t\n\x0b\f\r]*>"
HTML_WS_RE = r"[ \t\n\x0b\f\r]+"


def html_drop_element_re(tag: str) -> str:
    return rf"(?is)<{tag}\b[^>]*>.*?</{tag}[ \t\n\x0b\f\r]*>"


def html_block_split_re() -> str:
    return r"(?i)</?(?:" + "|".join(HTML_BLOCK_TAGS) + r")\b[^>]*>"


def _html_clean(col: Column) -> Column:
    """Comments + whole chrome elements removed (regexp chain, one
    codegen projection). (?s) via inline flag so elements spanning
    lines are still dropped."""
    c = F.regexp_replace(col, "(?s)" + HTML_COMMENT_RE, " ")
    for tag in HTML_DROP_ELEMENTS:
        c = F.regexp_replace(c, html_drop_element_re(tag), " ")
    return c


def _html_block_text(b: Column) -> Column:
    """Block HTML -> normalized text: strip remaining (inline) tags,
    decode the common entities, collapse ASCII whitespace, trim."""
    t = F.regexp_replace(b, HTML_TAG_RE, " ")
    for ent, ch in HTML_ENTITY_PAIRS:
        t = F.replace(t, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(t, HTML_WS_RE, " "))


def html_extract(
    df: DataFrame,
    html_col: str,
    id_col: str,
    min_words: int = 5,
    max_link_density: float = 0.33,
    out_col: str = "content",
) -> DataFrame:
    """Main-content extraction: HTML -> the page's body text.

    Pipeline (all inside ONE map-only codegen projection — zero
    exchanges, zero UDFs, the plan is a scan + project however big the
    crawl is):

    1. drop comments and whole chrome elements (``HTML_DROP_ELEMENTS``);
    2. segment the remainder into blocks on structural tags
       (``HTML_BLOCK_TAGS`` — the jusText segmentation);
    3. per block, compute normalized text and LINK text (chars inside
       ``<a>`` elements) via one transform (each chain evaluates once
       per block — see ``_bind_once`` for why textual reuse would not);
    4. keep blocks with ≥ ``min_words`` words AND link density
       (1 - len(text sans anchors)/len(text)) ≤ ``max_link_density`` —
       chrome is short and link-heavy, body text the opposite;
    5. join kept blocks with newlines.

    Returns (id, out_col, n_blocks, n_kept): candidate blocks are those
    with ≥1 word, so empty inter-tag gaps don't inflate telemetry.
    """
    out = html_extract_struct(
        F.col(html_col), min_words=min_words,
        max_link_density=max_link_density,
    )
    return df.withColumn("_h", out).select(
        id_col,
        F.col("_h")["content"].alias(out_col),
        F.col("_h")["n_blocks"].alias("n_blocks"),
        F.col("_h")["n_kept"].alias("n_kept"),
    )


def html_extract_struct(
    html: Column,
    min_words: int = 5,
    max_link_density: float = 0.33,
) -> Column:
    """The :func:`html_extract` pipeline as a plain Column expression —
    ``struct<content, n_blocks, n_kept>`` over one HTML column. Exposed
    so fused pipelines can apply extraction conditionally (e.g. only to
    the rows of a mixed-format frame that carry HTML) without branching
    the frame and duplicating its upstream subtree per branch."""
    from kusto_pre_forge_spark.operators.textstats import _bind_once

    mw, ld_max = int(min_words), float(max_link_density)
    blocks = F.split(_html_clean(html), html_block_split_re())
    scored = F.transform(
        blocks,
        lambda b: F.struct(
            _html_block_text(b).alias("txt"),
            _html_block_text(
                F.regexp_replace(b, HTML_ANCHOR_RE, " ")
            ).alias("nl"),
        ),
    )
    # second pass over the MATERIALIZED structs: word count + link
    # density read s.txt/s.nl as slots, never re-running the chains
    measured = F.transform(
        scored,
        lambda s: F.struct(
            s["txt"].alias("txt"),
            F.size(
                F.filter(F.split(s["txt"], " "), lambda w: w != F.lit(""))
            ).alias("words"),
            F.when(
                F.length(s["txt"]) > 0,
                F.lit(1.0)
                - F.length(s["nl"]).cast("double")
                / F.length(s["txt"]).cast("double"),
            )
            .otherwise(F.lit(1.0))
            .alias("ld"),
        ),
    )
    return _bind_once(
        measured,
        lambda m: F.struct(
            F.array_join(
                F.transform(
                    F.filter(
                        m,
                        lambda s: (s["words"] >= mw) & (s["ld"] <= ld_max),
                    ),
                    lambda s: s["txt"],
                ),
                "\n",
            ).alias("content"),
            F.size(F.filter(m, lambda s: s["words"] >= 1))
            .cast("long")
            .alias("n_blocks"),
            F.size(
                F.filter(
                    m, lambda s: (s["words"] >= mw) & (s["ld"] <= ld_max)
                )
            )
            .cast("long")
            .alias("n_kept"),
        ),
    )


# --- URL host / domain blocklist (crawl hygiene) -----------------------------

def url_host(col: Column | str) -> Column:
    """Lowercased host of a URL (codegen regex — no java.net.URI edge
    cases on crawl-grade malformed input; absent host → NULL).

    Userinfo is stripped before the host is taken: the authority may be
    ``user:pass@host`` (RFC 3986 §3.2), and a crawl-controllable URL
    like ``https://user@blocked.com/`` must still yield host
    ``blocked.com`` — otherwise ``domain_blocklist_filter`` has a
    trivial '@'-prefix bypass. The optional ``(?:[^/@?#]*@)?`` group
    consumes everything through the LAST pre-path '@' (including any
    password's ':'), then the capture stops at port/path/query/fragment
    delimiters and excludes '@' so a host can never retain one."""
    c = F.trim(F.col(col) if isinstance(col, str) else col)
    h = F.lower(F.regexp_extract(
        c, r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#]*@)?([^/:?#@]+)", 1
    ))
    return F.when(h == "", F.lit(None).cast("string")).otherwise(h)


#: query parameters that track, not address, content — the exact keys
#: (plus the utm_ prefix family) every crawl canonicalizer strips;
#: shared with the oracle generator
TRACKING_PARAMS = (
    "gclid", "fbclid", "msclkid", "mc_eid", "igshid", "ref", "ref_src",
    "utm",
)


def canonicalize_url(col: Column | str) -> Column:
    """The canonical dedup key for a crawl URL — one zero-exchange
    codegen projection (regex decomposition, not java.net.URI — the
    ``url_host`` rationale): scheme and host lowercase; userinfo
    dropped (it never addresses content; the blocklist gate keeps its
    own '@' hardening); default ports stripped (:80 http, :443 https),
    explicit non-default ports kept; empty path → '/'; query
    parameters sorted with tracking params removed (``utm_*`` prefix
    family + the TRACKING_PARAMS exacts); fragment dropped (never sent
    to the server). The SAME page crawled as
    ``HTTP://Site.COM:80/p?b=2&utm_source=x&a=1#sec`` and
    ``http://site.com/p?a=1&b=2`` keys identically, so exact dedup
    collapses the pair. Percent-encoding is NOT normalized (%2F vs /
    can be semantically different upstream); NULL for anything without
    an absolute scheme://host. Idempotent by construction.

    Layering vs :func:`url_normalize`: that op is the AGGRESSIVE dedup
    key (scheme coerced to https, path lowercased, trailing slash
    trimmed, malformed input passed through) — this one is the
    RFC-conservative canonical form (scheme/path case-semantics
    preserved, trackers and userinfo stripped, NULL on non-URLs); pick
    by how much collapse the corpus wants."""
    c = F.trim(F.col(col) if isinstance(col, str) else col)
    scheme = F.lower(
        F.regexp_extract(c, r"^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1)
    )
    host = F.lower(F.regexp_extract(
        c, r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#]*@)?([^/:?#@]+)", 1
    ))
    port = F.regexp_extract(
        c,
        r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#]*@)?[^/:?#@]+:(\d+)",
        1,
    )
    keep_port = (port != "") & ~(
        ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443"))
    )
    path = F.regexp_extract(
        c, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(/[^?#]*)", 1
    )
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(c, r"^[^#?]*\?([^#]*)", 1)
    exacts = [p for p in TRACKING_PARAMS if p != "utm"]
    params = F.filter(
        F.split(query, "&"),
        lambda p: (p != "")
        & ~F.lower(F.split(p, "=").getItem(0)).startswith("utm_")
        & ~F.lower(F.split(p, "=").getItem(0)).isin(*exacts),
    )
    q2 = F.array_join(F.array_sort(params), "&")
    canon = F.concat(
        scheme,
        F.lit("://"),
        host,
        F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit("")),
        path,
        F.when(q2 != "", F.concat(F.lit("?"), q2)).otherwise(F.lit("")),
    )
    return F.when(
        (scheme == "") | (host == ""), F.lit(None).cast("string")
    ).otherwise(canon)


def host_suffixes(host: Column) -> Column:
    """All dot-suffixes of a host, most-specific first —
    'a.b.example.com' → [a.b.example.com, b.example.com, example.com,
    com]. Array HOF over the label array (no explode); the shape that
    makes subdomain-inclusive blocklist matching one arrays-overlap /
    one exploded broadcast join."""
    labels = F.split(host, r"\.")
    n = F.size(labels)
    return F.transform(
        F.sequence(F.lit(1), F.greatest(n, F.lit(1))),
        lambda i: F.array_join(F.slice(labels, i, n), "."),
    )


def domain_blocklist_filter(
    df: DataFrame,
    url_col: str,
    blocklist: DataFrame,
    domain_col: str = "domain",
    keep_col: str | None = None,
) -> DataFrame:
    """Drop rows whose URL host matches a blocked domain AT ANY LABEL
    DEPTH ('example.com' blocks 'www.sub.example.com' — the standard
    crawl-blocklist semantics; Gopher App. A and C4 both apply a URL
    blocklist before any text filter).

    Plan: hosts explode into their ≤ ~6 dot-suffixes, the blocklist —
    curation lists are thousands of rows, never corpus-sized —
    BROADCASTS, and matched ids feed one broadcast left-anti join back.
    Nothing shuffles the corpus; rows with NULL/absent hosts are kept
    (no URL ≠ blocked). ``keep_col`` flags instead of filtering.
    """
    ids = df.select(F.col(url_col)).withColumn(
        "_kpf_host", url_host(F.col(url_col))
    )
    sufs = ids.filter(F.col("_kpf_host").isNotNull()).select(
        F.col(url_col),
        F.explode(host_suffixes(F.col("_kpf_host"))).alias("_kpf_suf"),
    )
    blocked = (
        sufs.join(
            F.broadcast(
                blocklist.select(
                    F.lower(F.col(domain_col)).alias("_kpf_suf")
                ).distinct()
            ),
            "_kpf_suf",
            "left_semi",
        )
        .select(url_col)
        .distinct()
    )
    if keep_col is not None:
        hit = blocked.withColumn("_kpf_blocked", F.lit(True))
        return (
            df.join(F.broadcast(hit), url_col, "left_outer")
            .withColumn(keep_col, F.col("_kpf_blocked").isNull())
            .drop("_kpf_blocked")
        )
    return df.join(F.broadcast(blocked), url_col, "left_anti")


# --- Markdown main-content extraction (code-corpus README prose) -------------

#: The markdown→prose rule chain, applied IN ORDER. Each rule is
#: (RE2-compatible pattern, Spark replacement, DuckDB replacement) — the
#: patterns are shared verbatim between engines (no pattern backreferences:
#: DuckDB's RE2 rejects them); only the replacement syntax differs
#: ($1 vs \1), translated per column. One source of truth — the operator
#: folds the chain and the oracle generator embeds the same tuples.
MARKDOWN_RULES: tuple[tuple[str, str, str], ...] = (
    (r"(?s)```.*?```", " ", " "),                      # fenced code blocks
    (r"(?s)~~~.*?~~~", " ", " "),
    (r"`([^`\n]*)`", "$1", r"\1"),                     # inline code -> content
    (r"!\[([^\]]*)\]\([^)]*\)", "$1", r"\1"),          # images -> alt text
    (r"\[([^\]]*)\]\([^)]*\)", "$1", r"\1"),           # links -> anchor text
    (r"<https?://[^>\s]*>", " ", " "),                 # autolinks
    (r"<[^>\n]+>", " ", " "),                          # inline HTML tags
    (r"(?m)^#{1,6}[ \t]*", "", ""),                    # ATX headers
    (r"(?m)^>[ \t]?", "", ""),                         # blockquote markers
    (r"(?m)^[ \t]*\*[ \t]+", "", ""),                  # bullet markers
    (r"(?m)^[ \t]*[-+][ \t]+", "", ""),
    (r"(?m)^[ \t]*[0-9]+\.[ \t]+", "", ""),            # ordered-list markers
    (r"(?m)^[-*_]{3,}[ \t]*$", " ", " "),              # horizontal rules
    (r"\*{1,3}([^*\n]+)\*{1,3}", "$1", r"\1"),         # *emphasis*
    (r"\b_{1,3}([^_\n]+)_{1,3}\b", "$1", r"\1"),       # _emphasis_ (\b spares snake_case)
    (r"[ \t]+", " ", " "),                             # intra-line collapse
    (r"(?m)^ +| +$", "", ""),                          # line-edge trim
    (r"\n{3,}", "\n\n", "\n\n"),                       # blank-line squeeze
    (r"^\n+|\n+$", "", ""),                            # document-edge newlines
)

_MD_FENCE_RE = r"(?s)```.*?```|(?s)~~~.*?~~~"
_MD_LINK_RE = r"\[[^\]]*\]\([^)]*\)"


def markdown_extract(
    df: DataFrame, md_col: str, id_col: str, out_col: str = "content"
) -> DataFrame:
    """Markdown → prose — `html_extract`'s sibling for the OTHER text
    container a code corpus carries (READMEs, docs/ trees; The Stack
    keeps markdown as a first-class subset). Fenced/inline code, images,
    links, autolinks, inline HTML, header/list/quote markers, rules, and
    emphasis wrappers reduce to their prose content via the
    MARKDOWN_RULES chain; counts of dropped fences and rewritten links
    ride along for telemetry (code-heavy READMEs gate differently).

    ONE zero-exchange codegen projection (the regexp_replace fold), the
    html_extract posture: at 100 TB this runs inside the scan. Every
    pattern is RE2-compatible so the DuckDB oracle replays the identical
    chain; trailing/leading whitespace trims at the end in both engines.
    """
    c = F.coalesce(F.col(md_col), F.lit(""))
    n_fences = F.size(F.expr(
        f"regexp_extract_all({md_col}, '{_MD_FENCE_RE}', 0)"
    ))
    n_links = F.size(F.expr(
        f"regexp_extract_all({md_col}, '{_MD_LINK_RE.replace(chr(92), chr(92)*2)}', 0)"
    ))
    out = c
    for pattern, spark_repl, _ in MARKDOWN_RULES:
        out = F.regexp_replace(out, pattern, spark_repl)
    return df.select(
        F.col(id_col),
        F.trim(out).alias(out_col),
        F.coalesce(n_fences, F.lit(0)).cast("long").alias("n_code_blocks"),
        F.coalesce(n_links, F.lit(0)).cast("long").alias("n_links"),
    )


# --- Wikitext main-content extraction (Wikipedia-corpus prose) ---------------

#: The wikitext→prose rule chain, applied IN ORDER — markdown_extract's
#: sibling for MediaWiki markup (sources/mediawiki.py page text). Same
#: contract as MARKDOWN_RULES: each rule is (RE2-compatible pattern,
#: Spark replacement, DuckDB replacement), patterns shared VERBATIM
#: between engines (no backreferences in patterns — DuckDB's RE2
#: rejects them), replacement syntax translated per column. RE2 can't
#: recurse, so nested constructs unroll a FIXED number of times:
#: templates ({{..{{..}}..}}) as three innermost-first passes, tables
#: as two, media links as a pass before AND after inner wikilinks
#: rewrite (a caption's [[link|label]] resolves to bare text first, so
#: the second pass's [^\[\]]* matches). Entity decoding runs AFTER
#: HTML-tag removal: '&lt;b&gt;' is LITERAL text in wikitext and must
#: not become a strippable tag.
WIKITEXT_RULES: tuple[tuple[str, str, str], ...] = (
    (r"(?s)<!--.*?-->", " ", " "),                      # comments
    (r"(?is)<ref[^>/]*/>", " ", " "),                   # self-closed refs
    (r"(?is)<ref[^>]*>.*?</ref>", " ", " "),            # footnote refs
    (                                                   # verbatim islands
        r"(?is)<(?:nowiki|math|code|pre|gallery|timeline|score"
        r"|syntaxhighlight|source)[^>]*>.*?"
        r"</(?:nowiki|math|code|pre|gallery|timeline|score"
        r"|syntaxhighlight|source)>",
        " ",
        " ",
    ),
    (r"(?s)\{\{[^{}]*\}\}", " ", " "),                  # templates ×3 (nesting)
    (r"(?s)\{\{[^{}]*\}\}", " ", " "),
    (r"(?s)\{\{[^{}]*\}\}", " ", " "),
    (r"(?s)\{\|.*?\|\}", " ", " "),                     # tables ×2 (nesting)
    (r"(?s)\{\|.*?\|\}", " ", " "),
    (r"\[\[(?:File|Image|Category)[^\[\]]*\]\]", " ", " "),  # media pass 1
    (r"\[\[[^\[\]|]*\|([^\[\]]*)\]\]", "$1", r"\1"),    # [[target|label]]
    (r"\[\[([^\[\]|]*)\]\]", "$1", r"\1"),              # [[target]]
    (r"\[\[(?:File|Image|Category)[^\[\]]*\]\]", " ", " "),  # media pass 2
    (r"\[https?://[^ \]]+ ([^\]]*)\]", "$1", r"\1"),    # [url label]
    (r"\[https?://[^\]]*\]", " ", " "),                 # bare [url]
    (r"(?m)^={1,6}[ \t]*", "", ""),                     # heading open fence
    (r"(?m)[ \t]*={1,6}[ \t]*$", "", ""),               # heading close fence
    (r"'{2,5}", "", ""),                                # bold/italic quotes
    (r"__[A-Z]+__", " ", " "),                          # magic words
    (r"<[^>\n]+>", " ", " "),                           # leftover inline HTML
    (r"&nbsp;", " ", " "),                              # entities (post-tag)
    (r"&ndash;|&mdash;", "-", "-"),
    (r"&lt;", "<", "<"),
    (r"&gt;", ">", ">"),
    (r"&quot;", "\"", "\""),
    (r"&amp;", "&", "&"),
    (r"(?m)^[*#:;]+[ \t]*", "", ""),                    # list/indent markers
    (r"[ \t]+", " ", " "),                              # intra-line collapse
    (r"(?m)^ +| +$", "", ""),                           # line-edge trim
    (r"\n{3,}", "\n\n", "\n\n"),                        # blank-line squeeze
    (r"^\n+|\n+$", "", ""),                             # document edges
)

_WIKI_TEMPLATE_RE = r"\{\{"
_WIKI_LINK_RE = r"\[\["


def wikitext_extract(
    df: DataFrame, wiki_col: str, id_col: str, out_col: str = "content"
) -> DataFrame:
    """Wikitext → prose — the extraction stage after
    ``sources/mediawiki.py`` parses a dump: templates, tables,
    ref/verbatim islands, media links, wikilink/external-link labels,
    heading fences, quote-run emphasis, magic words, inline HTML, and
    common entities reduce to prose via the WIKITEXT_RULES chain;
    template/wikilink counts ride along for telemetry (infobox-heavy
    pages gate differently).

    ONE zero-exchange codegen projection (the regexp_replace fold), the
    markdown_extract posture: at 100 TB this runs inside the scan, and
    every pattern is RE2-compatible so the DuckDB oracle replays the
    identical chain.
    """
    c = F.coalesce(F.col(wiki_col), F.lit(""))
    esc = _WIKI_TEMPLATE_RE.replace(chr(92), chr(92) * 2)
    n_templates = F.size(
        F.expr(f"regexp_extract_all({wiki_col}, '{esc}', 0)")
    )
    esc = _WIKI_LINK_RE.replace(chr(92), chr(92) * 2)
    n_wikilinks = F.size(
        F.expr(f"regexp_extract_all({wiki_col}, '{esc}', 0)")
    )
    out = c
    for pattern, spark_repl, _ in WIKITEXT_RULES:
        out = F.regexp_replace(out, pattern, spark_repl)
    return df.select(
        F.col(id_col),
        F.trim(out).alias(out_col),
        F.coalesce(n_templates, F.lit(0)).cast("long").alias("n_templates"),
        F.coalesce(n_wikilinks, F.lit(0)).cast("long").alias("n_wikilinks"),
    )


# --- LaTeX main-content extraction (arXiv-corpus prose) ----------------------

#: The LaTeX→prose rule chain, applied IN ORDER — the detex operation
#: for arXiv-class corpora (a standard LLM pretraining source ships as
#: .tex). Same contract as MARKDOWN_RULES / WIKITEXT_RULES: (RE2-safe
#: pattern, Spark replacement, DuckDB replacement), patterns shared
#: VERBATIM between engines. RE2 has no lookbehind, so the comment rule
#: captures the preceding non-backslash character and puts it back
#: (replacement backrefs are fine in both engines — only PATTERN
#: backrefs are banned); escaped specials (\%, \&) decode AFTER the
#: comment rule so they never read as comment starts. Verbatim islands
#: and math drop before command stripping; argument-keeping commands
#: (\section, \textbf, …) unwrap innermost-first ×2 for one nesting
#: level (\textbf{a \emph{b}}).
LATEX_RULES: tuple[tuple[str, str, str], ...] = (
    (                                                   # verbatim islands
        r"(?s)\\begin\{(?:verbatim|lstlisting|minted)\}"
        r".*?\\end\{(?:verbatim|lstlisting|minted)\}",
        " ",
        " ",
    ),
    (r"(?m)(^|[^\\])%.*$", "$1", r"\1"),                # comments (\% spared)
    (                                                   # display math envs
        r"(?s)\\begin\{(?:equation|align|eqnarray|gather|multline|math"
        r"|displaymath)\*?\}.*?"
        r"\\end\{(?:equation|align|eqnarray|gather|multline|math"
        r"|displaymath)\*?\}",
        " ",
        " ",
    ),
    (r"(?s)\$\$.*?\$\$", " ", " "),                     # $$ display math
    (r"(?s)\\\[.*?\\\]", " ", " "),                     # \[ \] display math
    (r"\$[^$\n]*\$", " ", " "),                         # $inline$ math
    (                                                   # keep-argument cmds ×2
        r"\\(?:section|subsection|subsubsection|paragraph|chapter|title"
        r"|author|textbf|textit|emph|texttt|textsc|textrm|textsf|mbox"
        r"|text|underline|caption|footnote)\*?\{([^{}]*)\}",
        "$1",
        r"\1",
    ),
    (
        r"\\(?:section|subsection|subsubsection|paragraph|chapter|title"
        r"|author|textbf|textit|emph|texttt|textsc|textrm|textsf|mbox"
        r"|text|underline|caption|footnote)\*?\{([^{}]*)\}",
        "$1",
        r"\1",
    ),
    (                                                   # refs/labels drop
        r"\\(?:cite|citep|citet|citealp|ref|eqref|autoref|label|cref"
        r"|pageref|vref|url|href)\*?\{[^{}]*\}",
        " ",
        " ",
    ),
    (                                                   # preamble/includes
        r"\\(?:includegraphics|input|include|usepackage|documentclass"
        r"|bibliography|bibliographystyle)\*?(?:\[[^\]]*\])?\{[^{}]*\}",
        " ",
        " ",
    ),
    (r"\\(?:begin|end)\{[^{}]*\}(?:\[[^\]]*\])?", " ", " "),  # env fences
    (r"(?m)^[ \t]*\\item\b[ \t]*", "", ""),             # list items
    (r"\\\\(?:\[[^\]]*\])?", " ", " "),                 # \\ line breaks
    (r"\\&", "&", "&"),                                 # escaped specials
    (r"\\%", "%", "%"),
    (r"\\_", "_", "_"),
    (r"\\#", "#", "#"),
    (r"\\\$", "\\$", "$"),
    (r"\\\{", "{", "{"),
    (r"\\\}", "}", "}"),
    (r"\\[a-zA-Z@]+(?:\[[^\]]*\])?", " ", " "),         # leftover commands
    (r"[{}]", "", ""),                                  # leftover braces
    (r"~", " ", " "),                                   # non-breaking ties
    (r"[ \t]+", " ", " "),                              # intra-line collapse
    (r"(?m)^ +| +$", "", ""),                           # line-edge trim
    (r"\n{3,}", "\n\n", "\n\n"),                        # blank-line squeeze
    (r"^\n+|\n+$", "", ""),                             # document edges
)

_LATEX_CMD_RE = r"\\[a-zA-Z@]+"
_LATEX_MATH_RE = r"\$\$|\$"


def latex_extract(
    df: DataFrame, tex_col: str, id_col: str, out_col: str = "content"
) -> DataFrame:
    """LaTeX → prose — the detex stage for arXiv-class corpora:
    comments, verbatim/math islands, citation/ref/label commands,
    preamble includes, environment fences, escaped specials, and
    leftover commands reduce to prose via the LATEX_RULES chain;
    command/math-delimiter counts ride along for telemetry
    (equation-heavy papers gate differently).

    ONE zero-exchange codegen projection (the regexp_replace fold), the
    markdown_extract posture: at 100 TB this runs inside the scan, and
    every pattern is RE2-compatible so the DuckDB oracle replays the
    identical chain.
    """
    c = F.coalesce(F.col(tex_col), F.lit(""))
    esc = _LATEX_CMD_RE.replace(chr(92), chr(92) * 2)
    n_commands = F.size(
        F.expr(f"regexp_extract_all({tex_col}, '{esc}', 0)")
    )
    esc = _LATEX_MATH_RE.replace(chr(92), chr(92) * 2)
    n_math = F.size(
        F.expr(f"regexp_extract_all({tex_col}, '{esc}', 0)")
    )
    out = c
    for pattern, spark_repl, _ in LATEX_RULES:
        out = F.regexp_replace(out, pattern, spark_repl)
    return df.select(
        F.col(id_col),
        F.trim(out).alias(out_col),
        F.coalesce(n_commands, F.lit(0)).cast("long").alias("n_commands"),
        F.coalesce(n_math, F.lit(0)).cast("long").alias("n_math_delims"),
    )


# --- extended PII scrubbing (the corpus-release pass) ------------------------

#: engine-shared PII patterns (RE2-compatible). The credit-card pattern
#: matches CANDIDATES only — 13–19 digits with optional single space/
#: dash separators; validation is the Luhn checksum, because a release
#: pipeline that scrubs every long digit run destroys ISBNs, order ids
#: and timestamps, while one that keeps Luhn-valid PANs leaks cards.
PII_IPV4_RE = (
    r"\b(?:(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.){3}"
    r"(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\b"
)
PII_PHONE_RE = r"\+[0-9][0-9 ()-]{6,18}[0-9]"
PII_CC_CAND_RE = r"\b[0-9](?:[ -]?[0-9]){12,18}\b"


def _sql_escape(pattern: str) -> str:
    """Regex → Spark SQL string literal body (backslashes doubled)."""
    return pattern.replace(chr(92), chr(92) * 2).replace("'", "''")


def _luhn_filter_sql(cands_col: str) -> str:
    """Spark SQL HOF expression keeping only Luhn-valid candidates —
    pure codegen (sequence + aggregate fold over digit positions;
    separators stripped first; doubled digits fold via the −9 rule)."""
    d = f"regexp_replace(c, '[ -]', '')"
    digit = f"CAST(substr({d}, i, 1) AS INT)"
    return (
        f"filter({cands_col}, c -> ("
        f"aggregate(sequence(1, length({d})), 0, (acc, i) -> acc + ("
        f"CASE WHEN pmod(length({d}) - i, 2) = 0 THEN {digit} "
        f"WHEN {digit} * 2 > 9 THEN {digit} * 2 - 9 "
        f"ELSE {digit} * 2 END)) % 10) = 0)"
    )


def pii_scrub_extended(
    df: DataFrame,
    text_col: str,
    id_col: str,
    email_token: str = "<EMAIL>",
    ip_token: str = "<IP>",
    phone_token: str = "<PHONE>",
    cc_token: str = "<CC>",
) -> DataFrame:
    """The corpus-release PII pass: emails, IPv4 addresses (octet-
    validated), international phone numbers (+prefix form — bare
    national formats false-positive on prose numbers), and credit-card
    numbers that PASS the Luhn checksum (candidates that fail stay —
    they are ISBNs/order ids, and scrubbing them destroys data for no
    privacy gain).

    Order matters and is fixed: emails → cards → IPv4 → phones, so a
    separator-formatted PAN is never half-eaten by the phone rule and
    an IP never feeds the phone pattern's digit runs.

    Output: (id, n_emails, n_ccs, n_ipv4, n_phones, scrubbed). One
    codegen projection chain — regex replaces plus a sequence/aggregate
    Luhn fold and a replace fold over the validated candidates; zero
    UDFs, zero exchanges (the pii_scrub posture at any corpus size)."""
    d = df.select(
        F.col(id_col),
        F.coalesce(F.col(text_col), F.lit("")).alias("_t"),
    )
    d = d.withColumn(
        "_n_emails", F.regexp_count(F.col("_t"), F.lit(EMAIL_RE)).cast("long")
    ).withColumn("_t", F.regexp_replace("_t", EMAIL_RE, email_token))
    cc_sql = _sql_escape(PII_CC_CAND_RE)
    d = d.withColumn(
        "_valid",
        F.expr(_luhn_filter_sql(f"regexp_extract_all(_t, '{cc_sql}', 0)")),
    )
    d = d.withColumn(
        "_t",
        F.expr(
            f"aggregate(_valid, _t, (acc, c) -> replace(acc, c, '{cc_token}'))"
        ),
    )
    d = d.withColumn(
        "_n_ipv4", F.regexp_count(F.col("_t"), F.lit(PII_IPV4_RE)).cast("long")
    ).withColumn("_t", F.regexp_replace("_t", PII_IPV4_RE, ip_token))
    d = d.withColumn(
        "_n_phones",
        F.regexp_count(F.col("_t"), F.lit(PII_PHONE_RE)).cast("long"),
    ).withColumn("_t", F.regexp_replace("_t", PII_PHONE_RE, phone_token))
    return d.select(
        F.col(id_col),
        "_n_emails",
        F.size("_valid").cast("long").alias("_n_ccs"),
        "_n_ipv4",
        "_n_phones",
        F.col("_t").alias("scrubbed"),
    ).withColumnsRenamed(
        {
            "_n_emails": "n_emails",
            "_n_ccs": "n_ccs",
            "_n_ipv4": "n_ipv4",
            "_n_phones": "n_phones",
        }
    )


# --------------------------------------------- GPT-2 tokenizer interchange
# The trainer hand-off's LAST mile: a tokenizer trained in this engine
# exports to the exact vocab.json + merges.txt pair GPT-2/Hugging Face
# loaders read, and the actual released GPT-2 files import back and
# tokenize/decode identically (vocab.json is AUTHORITATIVE for ids —
# the HF contract — merges.txt only ranks the merges).


def export_gpt2_tokenizer(
    merges: list[tuple[str, str]],
    out_dir: str | None = None,
    vocab_ids: dict[str, int] | None = None,
) -> tuple[dict[str, int], list[str]]:
    """(vocab dict, merges.txt lines) in the GPT-2/HF file format:
    vocab.json maps byte-remapped token strings to the ids
    ``bpe_encode`` emits (or ``vocab_ids`` when supplied), merges.txt
    is '#version: 0.2' + one space-separated pair per line in rank
    order. ``out_dir`` writes both files (UTF-8, non-ASCII kept
    literal — the upstream format)."""
    import json
    import os

    vocab = dict(vocab_ids) if vocab_ids is not None else bpe_vocab_ids(merges)
    lines = ["#version: 0.2"] + [f"{a} {b}" for a, b in merges]
    if out_dir is not None:
        os.makedirs(out_dir, exist_ok=True)
        with open(
            os.path.join(out_dir, "vocab.json"), "w", encoding="utf-8"
        ) as f:
            json.dump(vocab, f, ensure_ascii=False, separators=(",", ":"))
        with open(
            os.path.join(out_dir, "merges.txt"), "w", encoding="utf-8"
        ) as f:
            f.write("\n".join(lines) + "\n")
    return vocab, lines


def import_gpt2_tokenizer(
    vocab_json, merges_txt
) -> tuple[list[tuple[str, str]], dict[str, int]]:
    """(merges, vocab_ids) from GPT-2/HF tokenizer files. Accepts dicts/
    line-lists or file paths. The returned pair feeds ``bpe_encode(...,
    vocab_ids=...)`` / ``bpe_decode_ids(..., vocab_ids=...)`` — so the
    RELEASED GPT-2 vocabulary tokenizes in-engine with its own ids, and
    an engine-trained tokenizer roundtrips through its exported files
    exactly."""
    import json
    import os

    if isinstance(vocab_json, str) and os.path.exists(vocab_json):
        with open(vocab_json, encoding="utf-8") as f:
            vocab = json.load(f)
    elif isinstance(vocab_json, str):
        vocab = json.loads(vocab_json)
    else:
        vocab = dict(vocab_json)
    if isinstance(merges_txt, str) and os.path.exists(merges_txt):
        with open(merges_txt, encoding="utf-8") as f:
            lines = f.read().splitlines()
    elif isinstance(merges_txt, str):
        lines = merges_txt.splitlines()
    else:
        lines = list(merges_txt)
    merges: list[tuple[str, str]] = []
    for line in lines:
        line = line.rstrip("\n")
        if not line or line.startswith("#"):
            continue
        parts = line.split(" ")
        if len(parts) != 2:
            raise ValueError(f"malformed merges.txt line: {line!r}")
        merges.append((parts[0], parts[1]))
    missing = [a + b for a, b in merges if a + b not in vocab]
    if missing:
        raise ValueError(
            f"merges.txt names tokens absent from vocab.json: "
            f"{missing[:3]}{'…' if len(missing) > 3 else ''}"
        )
    return merges, {str(k): int(v) for k, v in vocab.items()}


def export_hf_tokenizer(
    merges: list[tuple[str, str]],
    out_path: str | None = None,
    vocab_ids: dict[str, int] | None = None,
) -> str:
    """The single-file HF fast-tokenizer ``tokenizer.json`` (the
    artifact current ``transformers``/``tokenizers`` stacks read and
    write — the legacy vocab.json+merges.txt pair is
    :func:`export_gpt2_tokenizer`): a ByteLevel pre-tokenizer/decoder
    wrapping the SAME byte-BPE tables, so an engine-trained vocabulary
    is drop-in for modern trainer stacks. Returns the JSON text;
    ``out_path`` also writes it (UTF-8, non-ASCII literal)."""
    import json

    vocab = dict(vocab_ids) if vocab_ids is not None else bpe_vocab_ids(merges)
    obj = {
        "version": "1.0",
        "truncation": None,
        "padding": None,
        "added_tokens": [],
        "normalizer": None,
        "pre_tokenizer": {
            "type": "ByteLevel",
            "add_prefix_space": False,
            "trim_offsets": True,
            "use_regex": True,
        },
        "post_processor": None,
        "decoder": {
            "type": "ByteLevel",
            "add_prefix_space": True,
            "trim_offsets": True,
            "use_regex": True,
        },
        "model": {
            "type": "BPE",
            "dropout": None,
            "unk_token": None,
            "continuing_subword_prefix": None,
            "end_of_word_suffix": None,
            "fuse_unk": False,
            "byte_fallback": False,
            "vocab": vocab,
            "merges": [f"{a} {b}" for a, b in merges],
        },
    }
    text = json.dumps(obj, ensure_ascii=False, separators=(",", ":"))
    if out_path is not None:
        with open(out_path, "w", encoding="utf-8") as f:
            f.write(text)
    return text


def import_hf_tokenizer(src) -> tuple[list[tuple[str, str]], dict[str, int]]:
    """(merges, vocab_ids) from an HF fast-tokenizer ``tokenizer.json``
    — path, JSON text, or parsed dict. Accepts both merges encodings
    the ``tokenizers`` library has shipped ('a b' strings pre-0.20,
    [a, b] arrays after), folds ``added_tokens`` into the id table,
    and refuses non-BPE models and non-ByteLevel pre-tokenizers BY
    NAME (a Metaspace/Unigram file segments differently — silently
    encoding with the wrong algorithm would be corruption, not
    compatibility). The returned pair feeds ``bpe_encode(...,
    vocab_ids=...)`` exactly like :func:`import_gpt2_tokenizer`."""
    import json
    import os

    if isinstance(src, str) and os.path.exists(src):
        with open(src, encoding="utf-8") as f:
            obj = json.load(f)
    elif isinstance(src, str):
        obj = json.loads(src)
    else:
        obj = dict(src)
    model = obj.get("model") or {}
    mtype = str(model.get("type", ""))
    if mtype != "BPE":
        raise ValueError(
            f"tokenizer.json model type {mtype!r} is not BPE — only "
            "byte-level BPE models import here (Unigram/WordPiece files "
            "segment differently)"
        )
    pre = obj.get("pre_tokenizer")
    if pre is not None:
        ptypes = (
            [str(p.get("type", "")) for p in pre.get("pretokenizers", [])]
            if str(pre.get("type", "")) == "Sequence"
            else [str(pre.get("type", ""))]
        )
        if "ByteLevel" not in ptypes:
            raise ValueError(
                f"tokenizer.json pre_tokenizer {ptypes} is not ByteLevel "
                "— this engine's BPE is byte-level (GPT-2 convention)"
            )
    merges: list[tuple[str, str]] = []
    for m in model.get("merges") or []:
        if isinstance(m, str):
            parts = m.split(" ")
            if len(parts) != 2:
                raise ValueError(f"malformed tokenizer.json merge: {m!r}")
            merges.append((parts[0], parts[1]))
        else:
            a, b = m
            merges.append((str(a), str(b)))
    vocab = {
        str(k): int(v) for k, v in (model.get("vocab") or {}).items()
    }
    for t in obj.get("added_tokens") or []:
        if "content" in t and "id" in t:
            vocab.setdefault(str(t["content"]), int(t["id"]))
    missing = [a + b for a, b in merges if a + b not in vocab]
    if missing:
        raise ValueError(
            f"tokenizer.json merges name tokens absent from the vocab: "
            f"{missing[:3]}{'…' if len(missing) > 3 else ''}"
        )
    return merges, vocab


# ------------------------------------------------- encoding repair (ftfy-lite)
# The single most common crawl defect after bad HTML: UTF-8 bytes that
# some upstream system decoded as Windows-1252 ("mojibake": café →
# cafÃ©). The repair is exact where it applies — re-encode through the
# SLOPPY cp1252 table (cp1252 with identity fallback on its five
# undefined bytes, the table real-world decoders effectively use; the
# map is a 256-entry bijection) and require the result to be VALID
# UTF-8. Validity is the safety filter: legitimate Latin-1 text like
# 'café' re-encodes to a lone 0xE9 byte, which is never valid UTF-8,
# so it is never touched. A text deliberately containing the mojibake
# sequence itself is indistinguishable from the defect — the same
# documented tradeoff every encoding fixer makes.

_SLOPPY_CP1252: dict[int, str] = {}
for _b in range(256):
    try:
        _SLOPPY_CP1252[_b] = bytes([_b]).decode("cp1252")
    except UnicodeDecodeError:
        _SLOPPY_CP1252[_b] = chr(_b)  # the five undefined bytes
_SLOPPY_CP1252_INV = {c: b for b, c in _SLOPPY_CP1252.items()}

#: C1 gremlins: raw 0x80-0x9F codepoints in text are the trace of a
#: cp1252 document decoded as Latin-1 — map each through cp1252 (ftfy's
#: fix_c1_controls); the five undefined bytes stay as-is.
_C1_GREMLINS = {
    chr(b): _SLOPPY_CP1252[b]
    for b in range(0x80, 0xA0)
    if _SLOPPY_CP1252[b] != chr(b)
}

_CONTROL_STRIP = {
    c: None
    for c in list(range(0x00, 0x09)) + [0x0B, 0x0C] + list(range(0x0E, 0x20))
    + [0x7F]
}


def _undo_cp1252_pass(s: str) -> str | None:
    """One mojibake undo: inverse sloppy-cp1252 map, then UTF-8 decode.
    None when the string is not in the map's image or the bytes are not
    valid UTF-8 — i.e. when this was NOT utf-8-as-cp1252 mojibake."""
    try:
        bs = bytes(_SLOPPY_CP1252_INV[ch] for ch in s)
    except KeyError:
        return None
    try:
        out = bs.decode("utf-8")
    except UnicodeDecodeError:
        return None
    return out if out != s else None


def fix_text_value(
    s: str,
    max_passes: int = 2,
    normalize: str | None = "NFC",
    strip_controls: bool = True,
    fix_c1: bool = True,
) -> tuple[str, int]:
    """(repaired text, mojibake passes applied) for ONE string — the
    pure function :func:`fix_encoding` distributes. Repairs double-
    encoded UTF-8 (once per pass, up to ``max_passes`` — twice-encoded
    mojibake needs two), maps C1 gremlins through cp1252, strips C0
    controls (keeping tab/LF/CR), and NFC-normalizes."""
    import unicodedata

    passes = 0
    while passes < max_passes:
        undone = _undo_cp1252_pass(s)
        if undone is None:
            break
        s = undone
        passes += 1
    if fix_c1 and any("\x80" <= ch <= "\x9f" for ch in s):
        s = "".join(_C1_GREMLINS.get(ch, ch) for ch in s)
    if strip_controls:
        s = s.translate(_CONTROL_STRIP)
    if normalize:
        s = unicodedata.normalize(normalize, s)
    return s, passes


def fix_encoding(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_passes: int = 2,
    normalize: str | None = "NFC",
) -> DataFrame:
    """(id, fixed, n_mojibake_passes, was_fixed) — encoding repair over
    the corpus as ONE Arrow map stage (string-table work is Python's;
    there is no codegen inverse-cp1252). At 100 TB this is a pure map —
    partition by input files, nothing shuffles."""
    from pyspark.sql.functions import pandas_udf

    mp, nf = int(max_passes), normalize

    @pandas_udf("struct<fixed:string, n_passes:int>")
    def fix_udf(col):
        import pandas as pd

        out_f, out_n = [], []
        for s in col:
            s = s if isinstance(s, str) else ""
            f, n = fix_text_value(s, max_passes=mp, normalize=nf)
            out_f.append(f)
            out_n.append(n)
        return pd.DataFrame({"fixed": out_f, "n_passes": out_n})

    fixed = fix_udf(F.coalesce(F.col(text_col), F.lit("")))
    return df.select(
        F.col(id_col),
        fixed["fixed"].alias("fixed"),
        fixed["n_passes"].alias("n_mojibake_passes"),
        (
            fixed["fixed"] != F.coalesce(F.col(text_col), F.lit(""))
        ).alias("was_fixed"),
    )
