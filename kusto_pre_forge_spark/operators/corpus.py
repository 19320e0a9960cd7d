"""Corpus assembly operators: the steps between a cleaned document pool
and a training run — mixture sampling, reproducible ordering, and
benchmark-contamination checks.

These complement textprep.py (per-doc filtering/transforms): here the unit
of work is the corpus composition itself. Everything is deterministic by
construction — a training mix must be replayable bit-for-bit months later,
so every sampling/ordering decision derives from content hashes, never
``rand()``.

Scale posture:

- ``stratified_sample``  — one codegen projection + filter; no shuffle at
  all (the per-stratum threshold test is a map-side predicate). At 100 TB
  this is the cheapest possible mixture sampler: the scan prunes columns
  to (strata, key) and the filter pushes into the scan.
- ``corpus_shuffle``     — one global range-sort on a content hash plus a
  distributed prefix sum for the dense position. A training export needs
  *some* total order; sorting by hash is the standard trick that both
  shuffles reproducibly AND spreads adjacent source documents (crawl
  locality) across the output. The position is NOT a global
  ``row_number`` window (that would be ``Exchange SinglePartition`` — the
  whole corpus through one task); it is base-offset + intra-partition
  index, where the base offsets come from a per-partition count aggregate
  (one row per partition). Same shape as ``plans/split.py:shard_assign``.
- ``contamination_check`` — n-gram overlap join between a (small)
  benchmark set and the corpus, in the inverted-index shape: explode
  benchmark n-grams (tiny side, broadcast), equi-join corpus n-grams on
  the hash, count distinct shared n-grams per (corpus doc, bench doc).
  The corpus side never materializes cross-document pairs — candidates
  exist only where an n-gram actually collides, exactly like
  ``ngram_jaccard_pairs``.
"""

from __future__ import annotations

import os
from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

WS_RE = r"\s+"


def _hash_unit(key: Column, salt: str) -> Column:
    """Deterministic uniform-ish [0, 1) value from a row key.

    First 8 md5 hex chars → int / 2^32: replayable in any engine with md5
    (the DuckDB oracle uses the same construction), well-mixed enough for
    sampling thresholds.
    """
    return (
        F.conv(F.substring(F.md5(F.concat_ws("|", F.lit(salt), key)), 1, 8), 16, 10)
        .cast("double")
        / F.lit(4294967296.0)
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: Mapping[str, float],
    key: Column | str,
    default_fraction: float = 0.0,
    salt: str = "kpf",
) -> DataFrame:
    """Deterministic per-stratum sampling — the training-mixture builder
    ("3× wikipedia, 0.1× crawl") as a single map-side filter.

    Unlike ``DataFrame.sampleBy`` (seeded RNG over partition order, so
    adding an executor changes the sample), membership depends only on the
    row's ``key`` content hash: the same row is kept or dropped no matter
    how the data is partitioned, re-ingested, or re-ordered. Strata absent
    from ``fractions`` use ``default_fraction`` (0 = drop).
    """
    k = F.col(key) if isinstance(key, str) else key
    u = _hash_unit(k.cast("string"), salt)
    frac = F.lit(float(default_fraction))
    for value, f in sorted(fractions.items()):
        frac = F.when(F.col(strata_col) == value, F.lit(float(f))).otherwise(frac)
    return df.filter(u < frac)


def corpus_shuffle(
    df: DataFrame,
    key: Column | str,
    salt: str = "kpf",
    position_col: str = "shuffle_pos",
    num_partitions: int | None = None,
) -> DataFrame:
    """Reproducible global shuffle: a total order by content hash.

    Returns the input with a dense 0-based ``position_col`` (long). The
    order is a pure function of (salt, key), so a re-run — on a different
    cluster, partition count, or input file layout — produces the
    identical training order. Ties on the hash (birthday-bound rare at
    32 bits) break on the key itself, keeping the order total and
    deterministic.

    Plan — distributed prefix sum, never a whole-corpus window (a global
    ``row_number().over(Window.orderBy(...))`` plans
    ``Exchange SinglePartition``: every row through ONE task; dead at
    100 TB). Instead:

    1. range-partition + sort within partitions by ``(hash, key)`` — the
       one full-data exchange, and range partition i holds globally
       smaller values than partition i+1 by construction;
    2. intra-partition index from ``monotonically_increasing_id`` (rows
       stream out of the sort in order; ``mid - (pid << 33)`` is the
       0-based index within the partition) — no second window, no second
       shuffle of the data;
    3. ``plans/split.py:prefix_bases`` over per-partition row counts
       (one row per partition) gives each partition its base offset —
       the only unpartitioned window runs over those O(num_partitions)
       rows, and the bases broadcast back: ``position = base + intra``.

    The range exchange feeds both the counts and the join probe; AQE
    stage reuse dedupes them when the branches canonicalize equal, and
    otherwise column pruning collapses the counts branch to a
    key-column-only scan + narrow shuffle — never a second full-width
    pass. For a file export, prefer writing the sorted frame with
    per-file ordering instead of materializing positions.
    """
    from kusto_pre_forge_spark.plans.split import prefix_bases

    k = F.col(key) if isinstance(key, str) else key
    h = _hash_unit(k.cast("string"), salt)
    t = df.withColumn("_kpf_h", h).withColumn("_kpf_k", k.cast("string"))
    order = ["_kpf_h", "_kpf_k"]
    if num_partitions is not None:
        t = t.repartitionByRange(num_partitions, *order)
    else:
        t = t.repartitionByRange(*order)
    t = (
        t.sortWithinPartitions(*order)
        .withColumn("_kpf_pid", F.spark_partition_id().cast("long"))
        .withColumn(
            "_kpf_intra",
            F.monotonically_increasing_id() - F.shiftleft(F.col("_kpf_pid"), 33),
        )
    )
    return (
        prefix_bases(t, "_kpf_pid", {"_kpf_base": F.count(F.lit(1))})
        .withColumn(position_col, F.col("_kpf_base") + F.col("_kpf_intra"))
        .drop("_kpf_pid", "_kpf_intra", "_kpf_base", "_kpf_h", "_kpf_k")
    )


def train_split(
    df: DataFrame,
    key: Column | str,
    weights: Mapping[str, float] | None = None,
    salt: str = "kpf-split",
    split_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment — zero shuffle, zero RNG.

    Each row's bucket is a pure function of (salt, key): the md5 hash unit
    is compared against the cumulative weight thresholds in the order
    ``weights`` lists them. The same row lands in the same split across
    re-runs, re-partitioning, and engines (the DuckDB oracle replays the
    identical arithmetic). Weights need not sum to 1 — the last split
    absorbs the remainder (matching the common 0.9/0.05/0.05 convention
    where rounding drift must not drop rows).
    """
    if weights is None:
        weights = {"train": 0.9, "val": 0.05, "test": 0.05}
    if len(weights) < 2:
        raise ValueError("train_split needs at least two splits")
    k = F.col(key) if isinstance(key, str) else key
    u = _hash_unit(k.cast("string"), salt)
    names = list(weights)
    expr = F.lit(names[-1])  # last split absorbs the remainder
    cum = 0.0
    thresholds = []
    for name in names[:-1]:
        cum += float(weights[name])
        thresholds.append((name, cum))
    for name, thr in reversed(thresholds):
        expr = F.when(u < F.lit(thr), F.lit(name)).otherwise(expr)
    return df.withColumn(split_col, expr)


def sequence_pack(
    df: DataFrame,
    text_col: str,
    id_col: str,
    seq_len: int,
    salt: str = "kpf",
    num_buckets: int = 1024,
    num_partitions: int | None = None,
    token_counter=None,
) -> DataFrame:
    """Pack documents into fixed-length training sequences
    (concat-then-chunk): lay every document's tokens end-to-end in the
    deterministic ``corpus_shuffle`` order, then cut the stream every
    ``seq_len`` tokens. Returns (id, n_tokens, token_start, seq_id) where
    ``token_start`` is the document's offset in the global token stream
    and ``seq_id = floor(token_start / seq_len)`` — the sequence the
    document STARTS in (documents crossing a boundary continue into the
    next sequence, the standard causal-LM packing where only the chunker
    downstream needs the boundary).

    Plan — the same distributed prefix sum as ``keyed_shard_assign``
    (plans/split.py): bucket by the leading hash digits (bucket boundaries
    respect the (hash, key) order by construction), per-bucket token
    subtotals, one exclusive-prefix window over that subtotal table (one
    row per bucket — the only single-partition exchange, and it sits
    above an aggregate), broadcast the base offsets back, within-bucket
    running sum. Never a whole-corpus window; one hash exchange on the
    bucket key.

    ``token_counter`` makes the offsets tokenizer-TRUE: a callable
    mapping the text Column to a per-document token-count Column —
    e.g. ``lambda c: textprep.bpe_token_count(c, merges)`` for a
    trained byte-level BPE vocab, so token_start/seq_id are the offsets
    the trainer will actually see. Default (None) is whitespace
    tokenization; the packing math is count-agnostic either way.
    """
    from kusto_pre_forge_spark.plans.split import keyed_shard_assign

    k = F.col(id_col).cast("string")
    h = _hash_unit(k, salt)
    if token_counter is None:
        toks = F.filter(
            F.split(F.lower(F.trim(F.col(text_col))), WS_RE),
            lambda w: w != "",
        )
        n_tokens = F.size(toks).cast("long")
    else:
        n_tokens = token_counter(F.col(text_col)).cast("long")
    t = df.select(
        F.col(id_col),
        h.alias("_kpf_h"),
        n_tokens.alias("n_tokens"),
    )
    bucket = F.floor(F.col("_kpf_h") * F.lit(float(num_buckets))).cast("long")
    out = keyed_shard_assign(
        t,
        order_cols=["_kpf_h", id_col],
        bucket=bucket,
        rec_bytes=F.col("n_tokens"),
        max_bytes_per_shard=seq_len,
        shard_col="seq_id",
        num_partitions=num_partitions,
        start_col="token_start",
    )
    return out.select(id_col, "n_tokens", "token_start", "seq_id")


def pack_attention_boundaries(
    df: DataFrame,
    text_col: str,
    id_col: str,
    seq_len: int,
    salt: str = "kpf",
    num_buckets: int = 1024,
    token_counter=None,
) -> DataFrame:
    """Per-SEQUENCE document-boundary offsets for block-diagonal
    attention — the mask information modern packed pre-training needs
    (cross-document attention is masked out, so the trainer must know
    where, inside each packed sequence, a new document's tokens begin;
    the "sample packing" convention).

    Built on :func:`sequence_pack`'s (token_start, n_tokens): a document
    occupying global token span [start, start+n) overlaps sequences
    ⌊start/L⌋ .. ⌊(start+n−1)/L⌋; within sequence s its segment begins
    at ``max(start, s·L) − s·L``. Each doc explodes to the ≤ n/L + 1
    sequences it overlaps (constant amortized fan-out: total exploded
    rows ≤ docs + total_tokens/L), then one per-sequence aggregate
    collects the sorted offsets. Returns (seq_id, n_docs, boundaries)
    where boundaries[0] is 0 exactly when a document starts at the
    sequence head. ``token_counter`` passes through to
    :func:`sequence_pack` — block-diagonal masks built from whitespace
    counts are WRONG masks under a real tokenizer, so a production run
    must pass its vocab's counter here."""
    packed = sequence_pack(
        df,
        text_col,
        id_col,
        seq_len,
        salt=salt,
        num_buckets=num_buckets,
        token_counter=token_counter,
    ).filter(F.col("n_tokens") > 0)
    L = F.lit(int(seq_len))
    first_seq = F.floor(F.col("token_start") / L).cast("long")
    last_seq = F.floor(
        (F.col("token_start") + F.col("n_tokens") - 1) / L
    ).cast("long")
    spans = packed.select(
        "token_start",
        F.explode(F.sequence(first_seq, last_seq)).alias("seq_id"),
    ).select(
        F.col("seq_id").cast("long").alias("seq_id"),
        F.greatest(
            F.col("token_start") - F.col("seq_id") * L, F.lit(0)
        ).cast("long").alias("offset"),
    )
    return spans.groupBy("seq_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.array_sort(F.collect_list("offset")).alias("boundaries"),
    )


def corpus_datacard(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The release datacard's quantitative row — ONE map-side-combined
    aggregate over the corpus: document/token/char totals, empty-doc
    count, token-count median and max, duplicate-text count (docs whose
    md5 repeats). Everything a dataset README's "statistics" table
    states, derived in one pass plus the tiny digest aggregate for the
    dup count."""
    toks = F.filter(
        F.split(F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))), WS_RE),
        lambda w: w != "",
    )
    base = df.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("_nt"),
        F.length(F.coalesce(F.col(text_col), F.lit(""))).cast("long").alias(
            "_nc"
        ),
        F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("_h"),
    )
    dups = (
        base.groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_n"))
        .agg(
            F.sum(F.when(F.col("_n") > 1, F.col("_n")).otherwise(0))
            .cast("long")
            .alias("n_dup_docs")
        )
    )
    stats = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("_nt").cast("long").alias("n_tokens"),
        F.sum("_nc").cast("long").alias("n_chars"),
        F.sum(F.when(F.col("_nt") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_empty"),
        F.median("_nt").cast("double").alias("median_tokens"),
        F.max("_nt").cast("long").alias("max_tokens"),
    )
    return stats.crossJoin(dups)


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Snapshot-to-snapshot change detection — the "what changed
    between corpus v1 and v2" audit every versioned-dataset release
    needs (which documents were added / removed / modified, feeding
    incremental dedup/stats maintenance and release notes). Returns
    (id, change ∈ added|removed|modified); unchanged documents drop
    out.

    Plan: each side reduces to (id, md5(text)) BEFORE the full-outer
    join — the shuffle carries 16-byte digests, never document text,
    so diffing two 100 TB snapshots moves two id+hash tables. One
    exchange per side."""
    o = old.select(
        F.col(id_col),
        F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("_h_old"),
    )
    n = new.select(
        F.col(id_col),
        F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("_h_new"),
    )
    j = o.join(n, id_col, "full_outer")
    change = (
        F.when(F.col("_h_old").isNull(), F.lit("added"))
        .when(F.col("_h_new").isNull(), F.lit("removed"))
        .when(F.col("_h_old") != F.col("_h_new"), F.lit("modified"))
    )
    return j.select(F.col(id_col), change.alias("change")).filter(
        F.col("change").isNotNull()
    )


def materialize_packed_sequences(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    seq_len: int = 512,
    salt: str = "kpf",
    num_buckets: int = 1024,
) -> DataFrame:
    """The trainer hand-off, MATERIALIZED: text → byte-BPE token ids →
    fixed-length packed sequences with block-diagonal attention
    boundaries — (seq_id, ids, n_docs, boundaries), every sequence
    exactly ``seq_len`` ids except the global last. This is the row a
    dataloader consumes; everything upstream (pack offsets, boundary
    masks, token budgets) was bookkeeping for this.

    Plan: per-doc id arrays (``textprep.bpe_encode_arrays``), the same
    distributed prefix sum as :func:`sequence_pack` for global offsets,
    then each doc explodes to the ≤ n/L + 1 sequences it overlaps as
    ARRAY SLICES (never per-token rows — constant amortized fan-out),
    and one per-sequence aggregate reassembles fragments in offset
    order. A sequence row is ≤ seq_len ints; no whole-corpus window,
    no driver state."""
    from kusto_pre_forge_spark.operators.textprep import bpe_encode_arrays
    from kusto_pre_forge_spark.plans.split import keyed_shard_assign

    enc = bpe_encode_arrays(df, merges, text_col, id_col).filter(
        F.size("ids") > 0
    )
    # pin the encode once: the slim prefix-sum pass and the id-array
    # join both read it, and re-encoding 100 TB twice is the one cost
    # this operator must never pay
    enc = enc.localCheckpoint(eager=False)
    h = _hash_unit(F.col(id_col).cast("string"), salt)
    # the prefix sum only needs (id, hash, count): keep the id ARRAYS
    # out of its exchanges (they would otherwise ride 4+ shuffles) and
    # join them back across exactly one
    slim = enc.select(
        F.col(id_col),
        h.alias("_kpf_h"),
        F.size("ids").cast("long").alias("_n"),
    )
    assigned_slim = keyed_shard_assign(
        slim,
        order_cols=["_kpf_h", id_col],
        bucket=F.floor(F.col("_kpf_h") * F.lit(float(num_buckets))).cast(
            "long"
        ),
        rec_bytes=F.col("_n"),
        max_bytes_per_shard=int(seq_len),
        shard_col="_seq_first",
        start_col="token_start",
    )
    assigned = assigned_slim.join(enc.select(id_col, "ids"), id_col)
    L = F.lit(int(seq_len))
    start = F.col("token_start")
    n = F.col("_n")
    first_seq = F.floor(start / L).cast("long")
    last_seq = F.floor((start + n - 1) / L).cast("long")
    spans = assigned.select(
        "ids",
        start,
        n,
        F.explode(F.sequence(first_seq, last_seq)).alias("seq_id"),
    )
    glob_from = F.greatest(start, F.col("seq_id") * L)
    glob_to = F.least(start + n, (F.col("seq_id") + 1) * L)  # exclusive
    local_from = (glob_from - start).cast("int")
    frag_len = (glob_to - glob_from).cast("int")
    frags = spans.select(
        F.col("seq_id").cast("long").alias("seq_id"),
        (glob_from - F.col("seq_id") * L).cast("long").alias("offset"),
        F.slice("ids", local_from + F.lit(1), frag_len).alias("frag"),
    )
    return frags.groupBy("seq_id").agg(
        F.flatten(
            F.transform(
                F.array_sort(F.collect_list(F.struct("offset", "frag"))),
                lambda x: x["frag"],
            )
        ).alias("ids"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.array_sort(F.collect_list("offset")).alias("boundaries"),
    )


def sequence_pack_nosplit(
    df: DataFrame,
    text_col: str,
    id_col: str,
    seq_len: int,
    salt: str = "kpf",
    num_buckets: int = 64,
    token_counter=None,
) -> DataFrame:
    """NO-TRUNCATION sequence packing (next-fit): walk documents in the
    deterministic ``corpus_shuffle`` order and start a NEW sequence
    whenever the current one cannot hold the next document whole —
    documents are never split across sequences (the SFT/instruction-
    tuning convention, where cutting an example mid-span corrupts the
    label structure; cf. Krell et al. 2021's packing-without-
    cross-contamination motivation — next-fit is its deterministic,
    replayable baseline). A document longer than ``seq_len`` gets a
    sequence of its own, flagged ``overflow`` (truncate or reroute
    downstream — never silently).

    Plan: hash-bucket the corpus (same bucketing as
    :func:`sequence_pack`); the next-fit walk is inherently sequential
    so it runs PER BUCKET inside one ``applyInPandas`` (each bucket's
    docs sorted by (hash, id) — a few MB of (id, count) pairs per task,
    never the text); per-bucket sequence counts then go through
    ``plans/split.py:prefix_bases`` like the keyed prefix sum, so
    sequence ids are globally dense without any whole-corpus pass. Returns
    (id, n_tokens, seq_id, overflow).

    ``token_counter`` as in :func:`sequence_pack` (tokenizer-true
    offsets)."""
    import pandas as pd

    from kusto_pre_forge_spark.plans.split import prefix_bases

    k = F.col(id_col).cast("string")
    h = _hash_unit(k, salt)
    if token_counter is None:
        toks = F.filter(
            F.split(F.lower(F.trim(F.col(text_col))), WS_RE),
            lambda w: w != "",
        )
        n_tokens = F.size(toks).cast("long")
    else:
        n_tokens = token_counter(F.col(text_col)).cast("long")
    bucket = F.floor(h * F.lit(float(num_buckets))).cast("long")
    t = df.select(
        F.col(id_col),
        h.alias("_h"),
        n_tokens.alias("n_tokens"),
        bucket.alias("_bucket"),
    )
    L = int(seq_len)

    def pack_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["_h", id_col]).reset_index(drop=True)
        seq_local, fill = [], None
        cur = -1
        for n in pdf["n_tokens"]:
            n = int(n)
            if cur < 0 or fill + n > L:
                cur += 1
                fill = n
            else:
                fill += n
            seq_local.append(cur)
        pdf["_seq_local"] = seq_local
        pdf["_bucket_seqs"] = (seq_local[-1] + 1) if seq_local else 0
        return pdf

    packed = t.groupBy("_bucket").applyInPandas(
        pack_bucket,
        f"{id_col} long, _h double, n_tokens long, _bucket long, "
        "_seq_local long, _bucket_seqs long",
    )
    packed = packed.localCheckpoint(eager=False)
    return (
        prefix_bases(packed, "_bucket", {"_base": F.max("_bucket_seqs")})
        .select(
            F.col(id_col),
            F.col("n_tokens"),
            (F.col("_base") + F.col("_seq_local")).cast("long").alias("seq_id"),
            (F.col("n_tokens") > L).alias("overflow"),
        )
    )


def line_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_doc_freq: int,
    sep: str = "\n",
    output_col: str = "clean_text",
) -> DataFrame:
    """Boilerplate-unit removal: drop every ``sep``-delimited unit (line,
    paragraph — or word, with ``sep=' '``) that occurs in more than
    ``max_doc_freq`` DISTINCT documents, and reassemble each document's
    remaining units in their original order. This is the corpus-level
    line-dedup step of CommonCrawl-style pipelines (navigation chrome,
    cookie banners, license headers repeat across thousands of pages;
    cf. CCNet / RefinedWeb) — df-based, so a unit repeated WITHIN one
    document survives.

    Plan: posexplode (map-side) → document-frequency aggregate on the
    unit (map-side partial; the shuffle carries the unit exactly once
    per (doc, unit)) → anti-join the exploded units against the over-cap
    set (small — only units shared by >cap docs; AQE broadcasts it) →
    one hash exchange on ``id_col`` to reassemble via
    ``array_sort(collect_list(struct(pos, unit)))``. The reassembly
    exchange is the unavoidable cost of rebuilding a document from its
    parts; everything else is narrow or tiny. Documents whose every unit
    was dropped come back as '' (left join + coalesce), never vanish.
    """
    import re as _re

    pat = _re.escape(sep)
    units = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), pat)).alias("_pos", "_u"),
    )
    hot = (
        units.groupBy("_u")
        .agg(F.count_distinct("_id").alias("_df"))
        .filter(F.col("_df") > max_doc_freq)
        .select("_u")
    )
    kept = units.join(hot, "_u", "left_anti")
    rebuilt = kept.groupBy("_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_u"))),
                lambda s: s["_u"],
            ),
            sep,
        ).alias(output_col)
    )
    return df.join(
        rebuilt.withColumnRenamed("_id", id_col), id_col, "left"
    ).withColumn(output_col, F.coalesce(F.col(output_col), F.lit("")))


def _word_ngrams(col: Column, n: int) -> Column:
    """Distinct lowercase word n-grams of the text.

    Documents with fewer than ``n`` tokens yield an EMPTY array — never a
    truncated pseudo-n-gram — so trivially short or empty documents can't
    collide in the contamination overlap join.
    """
    toks = F.filter(F.split(F.lower(F.trim(col)), WS_RE), lambda w: w != "")
    k = F.size(toks) - F.lit(n - 1)
    idx = F.sequence(F.lit(0), k - F.lit(1))
    grams = F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " "))
    )
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def _word_token_hashes(col: Column) -> Column:
    """Per-token 64-bit hashes of the lowercased whitespace tokens."""
    toks = F.filter(F.split(F.lower(F.trim(col)), WS_RE), lambda w: w != "")
    return F.transform(toks, lambda w: F.xxhash64(w))


def _ngram_hashes_of(th: Column, n: int) -> Column:
    """Distinct 64-bit word-n-gram keys from a token-hash array: each
    window's key is ``xxhash64`` of its n token hashes read by
    ``element_at`` — the n-gram string is never built, and the exploded
    join key is an 8-byte long instead of a 32-char md5 hex. Collisions
    (2⁻⁶⁴-scale) only touch the paired DISTINCT count, far below any
    decision threshold.

    ⚠ ``th`` MUST be a materialized attribute (a column produced by a
    previous ``select``), NOT an inline expression: higher-order-function
    lambdas are not common-subexpression-eliminated, so an inline
    tokenization would be re-evaluated for every ``element_at`` reference
    — measured 8× slower at sf0.1 (3.2 s → 0.4 s for the corpus-side
    explosion) and quadratic in document length.
    """
    k = F.size(th) - F.lit(n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
        lambda i: F.xxhash64(*[F.element_at(th, i + j) for j in range(n)]),
    )
    return F.when(k >= 1, F.array_distinct(grams)).otherwise(
        F.array().cast("array<long>")
    )


def build_bloom(
    keys: DataFrame,
    key_col: str,
    bits_per_key: int = 16,
    k_hashes: int = 7,
    seed: int = 41,
) -> tuple[list[int], int, int]:
    """Pure-Catalyst Bloom filter build: every key sets ``k_hashes`` bit
    positions (``pmod(xxhash64(key, i), m)``); positions explode to
    (word_index, bit_mask) rows and ONE map-side-combined ``bit_or``
    aggregate folds them into m/64 longs — the classic runtime-filter
    build, with no UDF and driver traffic = the bitset itself (m/64
    rows; 16 bits/key ≈ m/8 bytes ≈ 2 MB per million keys). Returns
    (words, m_bits, k_hashes) for :func:`bloom_probe`. No false
    negatives by construction; FP rate ≈ 0.5^(k) at 16 bits/key ≈ 0.04%.
    """
    # Plain count, not distinct().count(): n only SIZES the bitset (any m
    # keeps the no-false-negative guarantee and the verify join makes
    # results m-independent), so paying a full distinct shuffle of the key
    # set for an exact n buys nothing — the duplicate-inclusive count is a
    # safe upper bound that merely rounds the FP rate down (r15, guide
    # §2.4: one exchange removed from every bloom build).
    n = keys.select(key_col).count()
    m_bits = max(64, ((max(n, 1) * bits_per_key + 63) // 64) * 64)
    pos = [
        F.pmod(F.xxhash64(F.col(key_col), F.lit(i + seed)), F.lit(m_bits))
        for i in range(k_hashes)
    ]
    entries = keys.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        (p / 64).cast("int").alias("widx"),
                        # SQL-level shiftleft: the F.shiftleft wrapper only
                        # accepts a Python-int shift, the SQL fn takes a col
                        F.call_function(
                            "shiftleft",
                            F.lit(1).cast("long"),
                            (p % 64).cast("int"),
                        ).alias("mask"),
                    )
                    for p in pos
                ]
            )
        ).alias("e")
    ).select("e.widx", "e.mask")
    rows = (
        entries.groupBy("widx")
        .agg(F.expr("bit_or(mask)").alias("w"))
        .collect()
    )
    words = [0] * (m_bits // 64)
    for r in rows:
        words[r["widx"]] = int(r["w"])
    return words, m_bits, k_hashes


def bloom_probe(
    key: Column, bloom: tuple[list[int], int, int], seed: int = 41
) -> Column:
    """Membership probe against a :func:`build_bloom` bitset riding the
    plan as an array literal — k bit tests, all codegen, evaluated
    map-side (the probe side never shuffles for the filter)."""
    words, m_bits, k_hashes = bloom
    lit_words = F.array(*[F.lit(w).cast("long") for w in words])
    hit = F.lit(True)
    for i in range(k_hashes):
        p = F.pmod(F.xxhash64(key, F.lit(i + seed)), F.lit(m_bits))
        word = F.element_at(lit_words, (p / 64).cast("int") + 1)
        hit = hit & (
            F.call_function("getbit", word, (p % 64).cast("int")) == 1
        )
    return hit


def contamination_check(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram_n: int = 8,
    min_shared: int = 1,
    bloom_prefilter: bool = False,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Benchmark-contamination scan: which corpus documents share ≥
    ``min_shared`` distinct word ``ngram_n``-grams with which benchmark
    documents (the n-gram-overlap decontamination rule used for LLM
    training sets; 8-grams ≈ the GPT-3/PaLM convention).

    Returns (corpus_id, bench_id, shared_ngrams), sorted output left to
    the caller. The join key is a 64-bit hash of the n-gram's token-hash
    window (``_word_ngram_hashes`` — 8 bytes ride the join, the n-gram
    text is never even materialized); the benchmark side is explicitly
    broadcast — an eval suite is KBs–MBs against a TB corpus.

    When the benchmark is too big to broadcast (decontaminating against
    a large held-out set), pass ``broadcast_benchmark=False`` +
    ``bloom_prefilter=True``: a pure-Catalyst Bloom bitset
    (:func:`build_bloom` over the benchmark's n-gram hashes, ~2 MB per
    million n-grams) rides the corpus scan as a map-side filter, so the
    shuffle join receives only the ~FP-rate sliver of clean n-grams plus
    true hits. Results are EXACTLY the broadcast path's (Bloom has no
    false negatives; the join verifies) — equality is pinned in tests
    and by the driver oracle of ``contamination_bloom``.
    """
    c = corpus.select(
        F.col(id_col).alias("corpus_id"),
        _word_token_hashes(F.col(text_col)).alias("_th"),
    ).select(
        "corpus_id",
        F.explode(_ngram_hashes_of(F.col("_th"), ngram_n)).alias("_gh"),
    )
    b = benchmark.select(
        F.col(id_col).alias("bench_id"),
        _word_token_hashes(F.col(text_col)).alias("_th"),
    ).select(
        "bench_id",
        F.explode(_ngram_hashes_of(F.col("_th"), ngram_n)).alias("_gh"),
    )
    if bloom_prefilter:
        bloom = build_bloom(b, "_gh")
        c = c.filter(bloom_probe(F.col("_gh"), bloom))
    joined = c.join(F.broadcast(b) if broadcast_benchmark else b, "_gh")
    return (
        joined.groupBy("corpus_id", "bench_id")
        .agg(F.count_distinct("_gh").alias("shared_ngrams"))
        .filter(F.col("shared_ngrams") >= min_shared)
    )


def budget_sample(
    df: DataFrame,
    strata_col: str,
    key: Column | str,
    token_col: Column | str,
    budget_tokens: int,
    salt: str = "kpf-budget",
) -> DataFrame:
    """Token-budget mixture sampling: keep a deterministic subset of each
    stratum so that every stratum contributes AT MOST ``budget_tokens``
    (expected) — the "cap each source at N tokens" step of training-mix
    construction.

    Per-stratum keep fraction = min(1, budget / stratum_token_total),
    computed IN-PLAN (one map-side-combined aggregate, broadcast back) —
    no driver hop, no RNG: membership is the same md5-unit threshold as
    ``stratified_sample``, so re-runs, repartitions, and other engines
    reproduce the identical subset. Expected (not exact) cap: a
    hash-threshold sample is the only shape that stays deterministic AND
    shuffle-free on the data side; exact caps need a per-stratum prefix
    sum (see ``sequence_pack``) at one extra exchange.

    ``token_col`` is already counter-agnostic: pass a tokenizer-true
    expression (e.g. ``textprep.bpe_token_count(F.col("text"),
    merges)``) and the budget is enforced in the tokens the trainer
    will actually consume, not whitespace approximations.
    """
    k = F.col(key) if isinstance(key, str) else key
    tok = F.col(token_col) if isinstance(token_col, str) else token_col
    totals = df.groupBy(strata_col).agg(F.sum(tok).alias("_kpf_total"))
    frac = F.least(
        F.lit(1.0),
        F.lit(float(budget_tokens)) / F.col("_kpf_total").cast("double"),
    )
    u = _hash_unit(k.cast("string"), salt)
    return (
        df.join(F.broadcast(totals), strata_col)
        .filter(u < frac)
        .drop("_kpf_total")
    )


def epoch_upsample(
    df: DataFrame,
    key: Column | str,
    weight_col: Column | str,
    salt: str = "kpf-epoch",
    epoch_col: str = "epoch",
) -> DataFrame:
    """Fractional-epoch upsampling: repeat each row ``weight`` times,
    where non-integer weights round deterministically per row — a row
    with weight 2.3 appears in epochs 0 and 1 always, and in epoch 2
    iff its content hash falls under 0.3. This is how training mixes
    express "3.3 epochs of wikipedia, 0.7 of crawl" exactly, replayably,
    and without RNG.

    Plan: one ``explode(sequence(0, ceil(w)−1))`` — map-side, blowup
    exactly the mixture weight — then the md5-threshold filter on the
    (key, epoch) pair for the fractional last copy. No shuffle at all.
    """
    k = F.col(key) if isinstance(key, str) else key
    w = (F.col(weight_col) if isinstance(weight_col, str) else weight_col).cast(
        "double"
    )
    # clamp to >= 0: sequence(0, end) DESCENDS when end < 0 (Spark emits
    # [0, -1] for sequence(0, -1)), so an unclamped weight <= 0 would
    # leak a phantom epoch=-1 row past the keep filter, and a negative
    # weight would keep rows with probability frac(w). Weight <= 0 must
    # mean "drop the row", which the clamped form guarantees: the single
    # epoch-0 row fails both sides of `keep` when w <= 0.
    w = F.greatest(w, F.lit(0.0))
    out = df.withColumn(
        epoch_col,
        F.explode(
            F.sequence(
                F.lit(0), F.greatest(F.ceil(w).cast("long") - 1, F.lit(0))
            )
        ),
    )
    u = _hash_unit(
        F.concat_ws("|", k.cast("string"), F.col(epoch_col).cast("string")), salt
    )
    # full epochs always kept; the last (fractional) epoch kept with
    # probability frac(w) by content hash
    keep = (F.col(epoch_col) < F.floor(w)) | (u < (w - F.floor(w)))
    return out.filter(keep)


def temperature_mix(
    df: DataFrame,
    strata_col: str,
    key: Column | str,
    token_col: Column | str,
    alpha: float = 0.3,
    budget_tokens: int | None = None,
    salt: str = "kpf-temp",
    epoch_col: str = "epoch",
) -> DataFrame:
    """Temperature-smoothed mixture sampling — the multilingual-training
    standard (XLM, Conneau & Lample 2019 §3.1; mT5, Xue et al. 2021
    §3.2): source s samples with weight wₛ ∝ nₛ^α, flattening the head
    and boosting the tail (α=1 keeps natural proportions, α→0 goes
    uniform). Each source's rate rₛ = wₛ·B / nₛ where B is the total
    token budget (default: Σnₛ, i.e. reshape only); rₛ < 1 downsamples a
    high-resource source, rₛ > 1 UPSAMPLES a low-resource one with
    fractional epochs — both through the same deterministic md5-unit
    machinery as :func:`epoch_upsample`, so the mix is RNG-free and
    engine-replayable.

    Plan shape: one map-side-combined aggregate for the per-source token
    totals, broadcast back; then a map-only epoch explode + hash
    threshold. No data-side shuffle at any scale. Returns the sampled
    rows with ``epoch_col`` attached.
    """
    if alpha <= 0:
        raise ValueError("alpha must be > 0")
    k = F.col(key) if isinstance(key, str) else key
    tok = F.col(token_col) if isinstance(token_col, str) else token_col
    totals = df.groupBy(strata_col).agg(F.sum(tok).alias("_kpf_n"))
    wsum = totals.agg(
        F.sum(F.pow(F.col("_kpf_n").cast("double"), float(alpha))).alias("_kpf_wsum"),
        F.sum("_kpf_n").alias("_kpf_ntot"),
    )
    rates = totals.crossJoin(F.broadcast(wsum)).select(
        strata_col,
        (
            F.pow(F.col("_kpf_n").cast("double"), float(alpha))
            / F.col("_kpf_wsum")
            * (
                F.lit(float(budget_tokens))
                if budget_tokens is not None
                else F.col("_kpf_ntot").cast("double")
            )
            / F.col("_kpf_n").cast("double")
        ).alias("_kpf_rate"),
    )
    out = df.join(F.broadcast(rates), strata_col)
    w = F.greatest(F.col("_kpf_rate"), F.lit(0.0))
    out = out.withColumn(
        epoch_col,
        F.explode(
            F.sequence(F.lit(0), F.greatest(F.ceil(w).cast("long") - 1, F.lit(0)))
        ),
    )
    u = _hash_unit(
        F.concat_ws("|", k.cast("string"), F.col(epoch_col).cast("string")), salt
    )
    keep = (F.col(epoch_col) < F.floor(w)) | (u < (w - F.floor(w)))
    return out.filter(keep).drop("_kpf_rate")


def _dsir_grams(col: Column) -> Column:
    """Unigram + bigram occurrences (WITH multiplicity) of the lowercased
    whitespace tokens — DSIR's hashed n-gram feature stream. Occurrence
    counts matter (the importance weight is a product over token events,
    not a set overlap), so unlike :func:`_word_ngrams` nothing is
    deduplicated here."""
    toks = F.filter(F.split(F.lower(F.trim(col)), WS_RE), lambda w: w != "")
    n = F.size(toks)
    bi = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), F.greatest(n - 1, F.lit(1))),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i), F.element_at(toks, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(toks, bi)


def _widen_for_fanout(df: DataFrame) -> DataFrame:
    """Re-split the input to the cluster's parallelism when it arrives in
    fewer partitions. The gram explode fans each row out ~2× tokens, so
    input splits sized for a plain column scan are two orders of
    magnitude too coarse for the explode+md5 stage — a small corpus in
    one parquet footer would otherwise fold its grams on ONE core
    (measured 7.7× on the benched DSIR query). Row-level op, order-free:
    every consumer aggregates, and float fold divergence is covered by
    the round-before-top-k contract.

    The "already wide enough" probe must NOT be ``df.rdd
    .getNumPartitions()`` — that forces full physical planning plus a
    DataFrame→RDD conversion on every call (this helper sits under six
    queries) and doesn't exist under Spark Connect. Instead the split
    count is estimated from file-source metadata only:
    ``df.inputFiles()`` + driver-side sizes vs ``maxPartitionBytes``
    (the same arithmetic FileSourceScan uses). Each file is ≥1 split, so
    **file count alone** decides the 100 TB case first: a remote scan
    (s3://, abfss://, hdfs://) with thousands of objects short-circuits
    to "wide" on ``len(files) >= target`` with NO sizing at all —
    ``os.path.getsize`` only ever runs on local paths, and a path it
    cannot size is treated as wide (never forced through a full-corpus
    shuffle). A one-footer local test corpus still sizes small →
    repartition, which is noise next to the explode it feeds; a
    non-file frame (empty inputFiles — in-memory test fixtures) also
    repartitions, matching the one-footer posture."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if files:
        if len(files) >= target:
            return df  # ≥1 split per file — wide regardless of scheme
        raw = str(spark.conf.get(
            "spark.sql.files.maxPartitionBytes", "134217728b"
        )).strip().lower()
        units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}
        digits = raw.rstrip("kmgb")
        try:
            max_pb = int(digits) * units.get(raw[len(digits):len(digits) + 1], 1)
        except ValueError:
            max_pb = 128 * 1024 * 1024
        splits = 0
        for f in files:  # < target files, so bounded driver work
            p = f[7:] if f.startswith("file://") else f
            try:
                size = os.path.getsize(p)
            except OSError:
                return df  # remote/un-sizable scheme — treat as wide
            splits += max(1, -(-size // max(max_pb, 1)))
            if splits >= target:
                return df
    return df.repartition(target)


def _dsir_bucket(gram: Column, n_buckets: int, salt: str) -> Column:
    """md5-fold of an n-gram into one of ``n_buckets`` hash features.
    md5 (not xxhash64) so any engine — including the DuckDB oracle — can
    replay the exact bucket assignment."""
    return F.pmod(
        F.conv(
            F.substring(F.md5(F.concat_ws("|", F.lit(salt), gram)), 1, 8), 16, 10
        ).cast("long"),
        F.lit(int(n_buckets)),
    )


def dsir_logratio(
    target: DataFrame,
    raw: DataFrame,
    text_col: str = "text",
    n_buckets: int = 8192,
    smoothing: float = 1.0,
    salt: str = "kpf-dsir",
) -> DataFrame:
    """Hashed-n-gram importance log-ratio table — the learned half of DSIR
    (Data Selection via Importance Resampling, Xie et al. 2023,
    arXiv:2302.03169 §3): fit two bag-of-hashed-n-gram models, one on the
    ``target`` distribution (the data you wish you had more of) and one on
    the ``raw`` pool, and emit per-bucket
    ``lam = ln p_target(b) - ln p_raw(b)`` with Laplace smoothing
    ``p(b) = (c_b + s) / (N + s·B)``.

    Returns ``(bucket, lam)`` with at most ``n_buckets`` rows.

    Scale: each corpus contributes ONE map-side-combined count aggregate
    whose key space is bounded by ``n_buckets`` — the shuffle moves at
    most B rows per map task regardless of corpus size, and the totals
    ride along as a grand-total aggregate. The join of the two histograms
    is B×B-bounded (kilobytes). Nothing here scales with document count
    except the scan itself.

    The reference has no selection machinery at all — its mission ends at
    partitioned ingestion (`code/KustoPreForgeLib/EtlRun.cs:123-137`);
    this extends the corpus-assembly family per the round brief.
    """
    B = int(n_buckets)
    s = float(smoothing)

    def hist(df: DataFrame, cname: str) -> DataFrame:
        g = _widen_for_fanout(df).select(
            F.explode(_dsir_grams(F.col(text_col))).alias("_gram")
        ).select(_dsir_bucket(F.col("_gram"), B, salt).alias("bucket"))
        return g.groupBy("bucket").agg(F.count("*").alias(cname))

    th = hist(target, "_ct")
    rh = hist(raw, "_cr")
    tn = th.agg(F.sum("_ct").alias("_nt"))
    rn = rh.agg(F.sum("_cr").alias("_nr"))
    j = (
        th.join(rh, "bucket", "full_outer")
        .crossJoin(F.broadcast(tn))
        .crossJoin(F.broadcast(rn))
        .select(
            "bucket",
            (
                F.log(
                    (F.coalesce(F.col("_ct"), F.lit(0)).cast("double") + F.lit(s))
                    / (F.col("_nt").cast("double") + F.lit(s * B))
                )
                - F.log(
                    (F.coalesce(F.col("_cr"), F.lit(0)).cast("double") + F.lit(s))
                    / (F.col("_nr").cast("double") + F.lit(s * B))
                )
            ).alias("lam"),
        )
    )
    return j


def dsir_weights(
    raw: DataFrame,
    logratio: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 8192,
    salt: str = "kpf-dsir",
    weight_col: str = "dsir_logw",
) -> DataFrame:
    """Per-document DSIR importance log-weight: the sum of the bucket
    log-ratios over the document's n-gram OCCURRENCES (multiplicity
    counts — Xie et al. 2023 eq. 3's product of per-feature probabilities
    in log space). Documents with no tokens get weight 0.

    Plan: explode grams (map-only), broadcast-join the ≤``n_buckets``-row
    ``logratio`` table (a few MB at B=64k — always broadcastable), then
    ONE map-side-combined sum keyed by ``id_col``. The only data-sized
    shuffle is that final per-doc aggregation, which partial-aggregates
    before the exchange.
    """
    grams = _widen_for_fanout(raw).select(
        F.col(id_col), F.explode(_dsir_grams(F.col(text_col))).alias("_gram")
    ).select(
        id_col, _dsir_bucket(F.col("_gram"), int(n_buckets), salt).alias("bucket")
    )
    per_doc = (
        grams.join(F.broadcast(logratio), "bucket")
        .groupBy(id_col)
        .agg(F.sum("lam").alias(weight_col))
    )
    return raw.join(per_doc, id_col, "left").withColumn(
        weight_col, F.coalesce(F.col(weight_col), F.lit(0.0))
    )


def dsir_sample(
    raw: DataFrame,
    target: DataFrame | None,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 8192,
    smoothing: float = 1.0,
    salt: str = "kpf-dsir",
    weight_col: str = "dsir_logw",
    key_col: str = "sel_key",
    key_decimals: int = 4,
    target_filter: Column | None = None,
) -> DataFrame:
    """DSIR selection end-to-end: learn the hashed-n-gram log-ratio from
    ``target`` vs ``raw``, weight every raw document, and draw ``k``
    documents by **Gumbel top-k** — equivalent to sampling without
    replacement proportionally to the importance weights (Vieira 2014),
    but as a deterministic ORDER BY: ``sel_key = logw + Gumbel(u)`` where
    ``u`` derives from an md5 content hash of the document id, so the
    draw is RNG-free and replayable on any engine.

    Both ``sel_key`` and the reported weight are rounded to
    ``key_decimals`` BEFORE the top-k (ties broken on ``id_col``), which
    pins the selection against last-bit float divergence across engines —
    the sum of a few hundred log terms agrees across summation orders to
    ~1e-11, far inside a 1e-4 rounding step.

    Scale: the learned table is B-bounded (see :func:`dsir_logratio`),
    the weighting is one partial-agg shuffle (see :func:`dsir_weights`),
    and the top-k plans as TakeOrderedAndProject — per-partition heaps of
    size k, never a global sort.

    When the target is a SUBSET of ``raw`` selected by a predicate, pass
    ``target_filter`` (a boolean Column) instead of ``target``: the
    n-gram explode + md5 bucket fold — the dominant cost — then runs
    ONCE, is folded to per-(doc, bucket) counts by a single
    map-side-combined aggregate, and that compact frame (materialized
    via localCheckpoint so the three consumers don't re-explode) feeds
    the target histogram, the raw histogram, AND the per-doc weights.
    Measured 3.5× faster at sf0.1 than the generic two-DataFrame path.
    """
    if (target is None) == (target_filter is None):
        raise ValueError("exactly one of target / target_filter is required")
    B = int(n_buckets)
    s = float(smoothing)
    if target_filter is not None:
        g1 = (
            _widen_for_fanout(raw).select(
                F.col(id_col),
                target_filter.alias("_t"),
                F.explode(_dsir_grams(F.col(text_col))).alias("_gram"),
            )
            .select(
                id_col,
                "_t",
                _dsir_bucket(F.col("_gram"), B, salt).alias("bucket"),
            )
            .groupBy(id_col, "_t", "bucket")
            .agg(F.count("*").alias("_c"))
            .localCheckpoint(eager=True)
        )
        th = g1.filter(F.col("_t")).groupBy("bucket").agg(F.sum("_c").alias("_ct"))
        rh = g1.groupBy("bucket").agg(F.sum("_c").alias("_cr"))
        tn = th.agg(F.sum("_ct").alias("_nt"))
        rn = rh.agg(F.sum("_cr").alias("_nr"))
        lam = (
            th.join(rh, "bucket", "full_outer")
            .crossJoin(F.broadcast(tn))
            .crossJoin(F.broadcast(rn))
            .select(
                "bucket",
                (
                    F.log(
                        (F.coalesce(F.col("_ct"), F.lit(0)).cast("double") + F.lit(s))
                        / (F.col("_nt").cast("double") + F.lit(s * B))
                    )
                    - F.log(
                        (F.coalesce(F.col("_cr"), F.lit(0)).cast("double") + F.lit(s))
                        / (F.col("_nr").cast("double") + F.lit(s * B))
                    )
                ).alias("lam"),
            )
        )
        per_doc = (
            g1.join(F.broadcast(lam), "bucket")
            .groupBy(id_col)
            .agg(F.sum(F.col("_c") * F.col("lam")).alias(weight_col))
        )
        w = raw.join(per_doc, id_col, "left").withColumn(
            weight_col, F.coalesce(F.col(weight_col), F.lit(0.0))
        )
    else:
        lam = dsir_logratio(
            target, raw, text_col=text_col, n_buckets=n_buckets,
            smoothing=smoothing, salt=salt,
        )
        w = dsir_weights(
            raw, lam, text_col=text_col, id_col=id_col, n_buckets=n_buckets,
            salt=salt, weight_col=weight_col,
        )
    # Gumbel noise from an md5 unit shifted off 0 (u=0 would make
    # -ln(-ln u) undefined): u = (h + 0.5) / 2^32 ∈ (0, 1).
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws("|", F.lit(salt + "-g"), F.col(id_col).cast("string"))
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("double")
    u = (h + F.lit(0.5)) / F.lit(4294967296.0)
    key = F.round(
        F.col(weight_col) - F.log(-F.log(u)), int(key_decimals)
    ).alias(key_col)
    return (
        w.select(
            id_col,
            F.round(F.col(weight_col), int(key_decimals)).alias(weight_col),
            key,
        )
        .orderBy(F.col(key_col).desc(), F.col(id_col).asc())
        .limit(int(k))
    )


def domain_shift_jsd(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    n_buckets: int = 512,
    smoothing: float = 0.5,
    salt: str = "kpf-jsd",
) -> DataFrame:
    """Per-source distribution shift: Jensen-Shannon divergence between
    each source's hashed-unigram distribution and the CORPUS-WIDE one —
    the number a mixture designer reads before setting per-source rates
    (a source with high JSD is contributing something different; near
    zero, it is redundant mass). JSD = ½KL(P‖M) + ½KL(Q‖M), M=(P+Q)/2,
    natural log, both distributions Laplace-smoothed over the SAME
    ``n_buckets`` hashed feature space (the DSIR trick: the statistic is
    B-bounded however large the corpus — per-source histograms are at
    most B rows, the source×bucket grid is |sources|·B, and only the
    token scan touches data).

    md5 bucketing (not xxhash64) so an external engine replays the exact
    feature assignment; the divergence rounds to 6 decimals (sums of ≤B
    log terms agree across engines far inside that step).

    Returns (group, n_tokens, jsd), jsd in [0, ln 2].
    """
    B, s = int(n_buckets), float(smoothing)
    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), WS_RE), lambda w: w != ""
    )
    g = _widen_for_fanout(df).select(
        F.col(group_col).alias("_grp"), F.explode(toks).alias("_w")
    ).select("_grp", _dsir_bucket(F.col("_w"), B, salt).alias("bucket"))
    # pin the token-scan aggregate ONCE: three consumers (per-source
    # totals, corpus histogram, the grid join) would otherwise inline
    # the whole explode+md5 scan subtree three times (r14: 32-Exchange
    # plan → one scan + tiny reuses; output is B-bounded, ≤|sources|·B
    # rows, so truncating lineage here costs nothing)
    sc = g.groupBy("_grp", "bucket").agg(
        F.count("*").alias("_cs")
    ).localCheckpoint(eager=False)
    tot_s = sc.groupBy("_grp").agg(F.sum("_cs").alias("_ns"))
    corpus = sc.groupBy("bucket").agg(F.sum("_cs").alias("_c"))
    tot = corpus.agg(F.sum("_c").alias("_n"))
    # full |sources|×B grid (bounded, metadata-sized): absent buckets
    # still carry smoothed mass, so they belong in the sum
    grid = (
        tot_s.select("_grp", "_ns")
        .crossJoin(F.broadcast(tot))
        .select(
            "_grp", "_ns", "_n",
            F.explode(F.sequence(F.lit(0), F.lit(B - 1))).alias("bucket"),
        )
    )
    j = (
        grid.join(sc, ["_grp", "bucket"], "left")
        .join(F.broadcast(corpus), "bucket", "left")
        .select(
            "_grp", "_ns",
            (
                (F.coalesce(F.col("_cs"), F.lit(0)).cast("double") + F.lit(s))
                / (F.col("_ns").cast("double") + F.lit(s * B))
            ).alias("_p"),
            (
                (F.coalesce(F.col("_c"), F.lit(0)).cast("double") + F.lit(s))
                / (F.col("_n").cast("double") + F.lit(s * B))
            ).alias("_q"),
        )
        .withColumn("_m", (F.col("_p") + F.col("_q")) / 2)
        .withColumn(
            "_t",
            F.lit(0.5) * F.col("_p") * F.log(F.col("_p") / F.col("_m"))
            + F.lit(0.5) * F.col("_q") * F.log(F.col("_q") / F.col("_m")),
        )
    )
    return j.groupBy(F.col("_grp").alias(group_col)).agg(
        F.max("_ns").cast("long").alias("n_tokens"),
        F.round(F.sum("_t"), 6).alias("jsd"),
    )


def bloom_semi_join(
    fact: DataFrame,
    keys: DataFrame,
    fact_key: str,
    keys_key: str | None = None,
    bits_per_key: int = 16,
    k_hashes: int = 7,
    seed: int = 41,
    exact: bool = True,
) -> DataFrame:
    """General big-to-big semi-join with a Bloom prefilter — the runtime-
    filter pattern (:func:`build_bloom` / :func:`bloom_probe`) promoted
    from the decontamination internals to a reusable join primitive:
    the fact side is cut down by a broadcast BITSET (m/8 bytes — two
    orders smaller than broadcasting the key set itself) BEFORE the real
    shuffle, so the exchange moves only probable matches. With
    ``exact=True`` (default) a left-semi join on the survivors removes
    the Bloom's false positives — exact semantics, shuffle sized by the
    prefiltered side; ``exact=False`` keeps the ~0.04 % FP rate
    (16 bits/key) when downstream tolerates it (e.g. candidate
    generation) and the plan is shuffle-free.

    When the key side is broadcast-small anyway, use a plain semi join —
    this primitive is for key sets past broadcast reach.
    """
    kk = keys_key or fact_key
    bloom = build_bloom(
        keys.select(F.col(kk).alias(fact_key)), fact_key,
        bits_per_key=bits_per_key, k_hashes=k_hashes, seed=seed,
    )
    pre = fact.filter(bloom_probe(F.col(fact_key), bloom, seed=seed))
    if not exact:
        return pre
    return pre.join(
        keys.select(F.col(kk).alias(fact_key)).distinct(), fact_key, "left_semi"
    )


def domain_cap(
    df: DataFrame,
    group_col: str,
    key: Column | str,
    max_per_group: int,
    salt: str = "kpf-cap",
    keep_col: str | None = None,
) -> DataFrame:
    """Cap each group at EXACTLY ``max_per_group`` rows (fewer if the
    group is smaller) — the per-domain ceiling every crawl mixture
    applies ("no single host contributes more than N documents").
    Selection is a deterministic md5-hash order per group (ties on the
    key), so membership is partitioning- and run-independent — the same
    property as :func:`stratified_sample`, but with an exact COUNT
    guarantee instead of a rate. Pass ``keep_col`` to FLAG rows instead
    of filtering (telemetry / soft enforcement).

    Plan (two-phase, skew-safe): heavy-hitter domains are exactly the
    rows this op exists to cut, so a single rank window partitioned by
    the group key would put the whole hot domain on ONE task. Instead a
    PARTIAL window over ``(spark_partition_id, group)`` trims first —
    each input partition independently keeps its own ``max_per_group``
    smallest hash keys per group, so no stage-1 cell can exceed one
    input split (~``maxPartitionBytes``) however skewed the group. That
    bounds the exact final window's input to ≤ partitions × cap rows
    per group (KB-scale, not TB-scale, per domain). The result is
    IDENTICAL to the one-window plan: any row a stage-1 cell discards
    has ≥ cap rows ordered before it within that cell alone, so it can
    never be in any valid global top-cap.
    """
    from pyspark.sql import Window

    from kusto_pre_forge_spark.pinning import pin as _pin

    k = F.col(key) if isinstance(key, str) else key
    u = _hash_unit(k.cast("string"), salt)
    base = (
        df.withColumn("_kpf_u", u)
        .withColumn("_kpf_k", k.cast("string"))
        .withColumn("_kpf_pid", F.spark_partition_id())
    )
    order = [F.col("_kpf_u").asc(), F.col("_kpf_k").asc()]
    w1 = Window.partitionBy("_kpf_pid", group_col).orderBy(*order)
    r1 = base.withColumn("_kpf_rk", F.row_number().over(w1))
    w2 = Window.partitionBy(group_col).orderBy(*order)
    tmp = ["_kpf_u", "_kpf_k", "_kpf_pid", "_kpf_rk"]
    if keep_col is None:
        cands = r1.filter(F.col("_kpf_rk") <= max_per_group)
        return (
            cands.withColumn("_kpf_rk2", F.row_number().over(w2))
            .filter(F.col("_kpf_rk2") <= max_per_group)
            .drop("_kpf_rk2", *tmp)
        )
    # flag mode feeds r1 to TWO consumers (candidates + losers) — pin so
    # the stage-1 window runs once
    r1 = _pin(r1)
    losers = r1.filter(F.col("_kpf_rk") > max_per_group).withColumn(
        keep_col, F.lit(False)
    )
    winners = (
        r1.filter(F.col("_kpf_rk") <= max_per_group)
        .withColumn("_kpf_rk2", F.row_number().over(w2))
        .withColumn(keep_col, F.col("_kpf_rk2") <= max_per_group)
        .drop("_kpf_rk2")
    )
    return winners.unionByName(losers).drop(*tmp)


def fim_transform(
    df: DataFrame,
    text_col: str = "text",
    key: Column | str = "doc_id",
    rate: float = 0.5,
    spm_rate: float = 0.5,
    prefix_tok: str = "<|fim_prefix|>",
    middle_tok: str = "<|fim_middle|>",
    suffix_tok: str = "<|fim_suffix|>",
    salt: str = "kpf-fim",
    out_text: str = "fim_text",
    out_mode: str = "fim_mode",
) -> DataFrame:
    """Fill-in-the-middle transform for code/text pretraining (the
    public FIM recipe: Bavarian et al. 2022, arXiv:2207.14255 — split a
    document into (prefix, middle, suffix), emit the pieces re-ordered
    around sentinel tokens so the model learns infilling).

    Everything is DETERMINISTIC per row key (the
    :func:`stratified_sample` convention): the transform gate
    (``rate``), the PSM/SPM arm (``spm_rate``), and both cut points
    derive from salted md5 of the key, so membership is partitioning-
    and run-independent and a SQL oracle can replay every choice.

    - gate u < rate → transformed, else ``fim_mode='none'`` and the
      text passes through (document-level mixing, the paper's setup);
    - two cuts c1,c2 ∈ [0, n] from independent hash units; lo/hi =
      sorted → prefix = [0,lo), middle = [lo,hi), suffix = [hi,n)
      (character-level splits — token-boundary FIM belongs to the
      tokenizer stage downstream);
    - PSM: ``prefix_tok P suffix_tok S middle_tok M``;
      SPM: ``suffix_tok S prefix_tok P middle_tok M``.

    Pure codegen projection — zero exchanges; at 100 TB this is a map
    stage over the corpus scan."""
    k = (F.col(key) if isinstance(key, str) else key).cast("string")
    t = F.coalesce(F.col(text_col), F.lit(""))
    n = F.length(t)
    gate = _hash_unit(k, f"{salt}-gate") < F.lit(rate)
    spm = _hash_unit(k, f"{salt}-arm") < F.lit(spm_rate)
    c1 = F.floor(_hash_unit(k, f"{salt}-c1") * (n + 1)).cast("int")
    c2 = F.floor(_hash_unit(k, f"{salt}-c2") * (n + 1)).cast("int")
    lo = F.least(c1, c2)
    hi = F.greatest(c1, c2)
    prefix = F.substring(t, 1, lo)
    middle = t.substr(lo + 1, hi - lo)
    suffix = t.substr(hi + 1, n - hi)
    psm_text = F.concat(
        F.lit(prefix_tok), prefix, F.lit(suffix_tok), suffix,
        F.lit(middle_tok), middle,
    )
    spm_text = F.concat(
        F.lit(suffix_tok), suffix, F.lit(prefix_tok), prefix,
        F.lit(middle_tok), middle,
    )
    return df.withColumns({
        out_mode: F.when(~gate, F.lit("none"))
        .when(spm, F.lit("spm")).otherwise(F.lit("psm")),
        out_text: F.when(~gate, t)
        .when(spm, spm_text).otherwise(psm_text),
    })


def sft_render(
    df: DataFrame,
    turns_col: str = "turns",
    assistant_role: str = "assistant",
    out_text: str = "sft_text",
    out_spans: str = "loss_spans",
) -> DataFrame:
    """Render conversation turns into one training string plus the
    LOSS-MASK spans — the supervised-fine-tuning hand-off: trainers
    compute loss only on assistant tokens, so the renderer must emit
    both the flat text and where the assistant content lives in it.

    ``turns_col`` is ``array<struct<role:string, content:string>>``.
    Template (a deterministic ChatML-style contract):
    ``<|role|>\\n{content}<|end|>\\n`` per turn, concatenated in order.
    ``out_spans`` is ``array<struct<s:long, e:long>>`` — 0-based
    half-open character offsets of each ``assistant_role`` turn's
    content in the rendered string (header and end sentinels excluded:
    loss covers what the assistant SAID, not the scaffolding — char
    spans convert to token masks after tokenization via offset
    mapping).

    One ``aggregate`` higher-order fold per row, all JVM-side — zero
    exchanges, a pure map stage at any scale."""
    turns = F.col(turns_col)
    part = F.transform(
        turns,
        lambda x: F.concat(
            F.lit("<|"), x["role"], F.lit("|>\n"),
            x["content"], F.lit("<|end|>\n"),
        ),
    )
    zero = F.struct(
        F.lit(0).cast("long").alias("pos"),
        F.array().cast("array<struct<s:long,e:long>>").alias("spans"),
    )

    def step(acc, x):
        header = (F.length(x["role"]) + F.lit(5)).cast("long")
        clen = F.length(x["content"]).cast("long")
        start = acc["pos"] + header
        spans = F.when(
            x["role"] == F.lit(assistant_role),
            F.concat(
                acc["spans"],
                F.array(F.struct(
                    start.alias("s"), (start + clen).alias("e")
                )),
            ),
        ).otherwise(acc["spans"])
        return F.struct(
            (acc["pos"] + header + clen + F.lit(8)).alias("pos"),
            spans.alias("spans"),
        )

    agg = F.aggregate(turns, zero, step)
    return df.withColumns({
        out_text: F.concat_ws("", part),
        out_spans: agg["spans"],
    })


def dpo_render(
    df: DataFrame,
    prompt_col: str = "prompt",
    chosen_col: str = "chosen",
    rejected_col: str = "rejected",
    out_prefix: str = "dpo_",
) -> DataFrame:
    """Preference-pair rendering for DPO / reward-model training: each
    row's prompt is rendered twice with the SAME chat template as
    :func:`sft_render` (``<|role|>\\n{content}<|end|>\\n``) — once with
    the chosen response, once with the rejected one — plus each
    response's loss span (0-based [s, e) char offsets of the response
    content), so the trainer scores exactly the tokens that differ.

    Output columns: ``{prefix}chosen_text``, ``{prefix}rejected_text``,
    ``{prefix}chosen_s/e``, ``{prefix}rejected_s/e``. Pure string
    concatenation in one codegen projection — zero exchanges."""
    header = F.concat(
        F.lit("<|user|>\n"),
        F.coalesce(F.col(prompt_col), F.lit("")),
        F.lit("<|end|>\n<|assistant|>\n"),
    )
    start = F.length(header).cast("long")

    def rendered(col):
        resp = F.coalesce(F.col(col), F.lit(""))
        return (
            F.concat(header, resp, F.lit("<|end|>\n")),
            start,
            start + F.length(resp).cast("long"),
        )

    ct, cs, ce = rendered(chosen_col)
    rt, rs, re_ = rendered(rejected_col)
    return df.withColumns({
        f"{out_prefix}chosen_text": ct,
        f"{out_prefix}chosen_s": cs,
        f"{out_prefix}chosen_e": ce,
        f"{out_prefix}rejected_text": rt,
        f"{out_prefix}rejected_s": rs,
        f"{out_prefix}rejected_e": re_,
    })


def sft_tokenize_mask(
    df: DataFrame,
    merges,
    prompt_col: str = "prompt",
    response_col: str = "response",
    id_col: str = "doc_id",
    vocab_ids=None,
) -> DataFrame:
    """Token-level SFT hand-off: ``input_ids`` + ``loss_mask`` per
    example, by the standard trainer recipe — prompt and response are
    byte-BPE encoded SEPARATELY and concatenated, so the mask is
    ``[0]*len(prompt_ids) ++ [1]*len(response_ids)`` by construction
    (no offset mapping, no tokenizer changes; segment-boundary tokens
    differ from a whole-string encode exactly as they do in real
    trainer stacks, which insert role sentinels at the same seam).

    ONE Arrow map stage: both segments encode through the same
    rank-dict document encoder in a single projection — zero joins,
    zero exchanges; compose with :func:`sequence_pack_nosplit` /
    :func:`materialize_packed_sequences` downstream for packed batches.
    """
    from kusto_pre_forge_spark.operators.textprep import (
        _bpe_encode_doc_udf,
        byte_pretokens,
    )

    enc = _bpe_encode_doc_udf(merges, vocab_ids)
    p_ids = enc(byte_pretokens(F.coalesce(F.col(prompt_col), F.lit(""))))
    r_ids = enc(byte_pretokens(F.coalesce(F.col(response_col), F.lit(""))))
    t = df.select(
        F.col(id_col),
        p_ids.alias("_p"),
        r_ids.alias("_r"),
    )
    return t.select(
        id_col,
        F.concat("_p", "_r").alias("input_ids"),
        F.concat(
            F.transform("_p", lambda _: F.lit(0)),
            F.transform("_r", lambda _: F.lit(1)),
        ).alias("loss_mask"),
        F.size("_p").cast("long").alias("n_prompt_tokens"),
        F.size("_r").cast("long").alias("n_response_tokens"),
    )


def sft_tokenize_conversation(
    df: DataFrame,
    merges,
    turns_col: str = "turns",
    id_col: str = "doc_id",
    assistant_role: str = "assistant",
    vocab_ids=None,
) -> DataFrame:
    """MULTI-TURN token-level SFT masks — :func:`sft_tokenize_mask`
    generalized over a conversation: each turn renders through the SAME
    deterministic template :func:`sft_render` uses
    (``<|role|>\\n{content}<|end|>\\n``) but as three SEPARATE
    byte-BPE segments per turn (header, content, end sentinel), so the
    loss mask is 1 exactly on ``assistant_role`` CONTENT tokens and 0
    on scaffolding and every other role — by construction, no offset
    mapping (span-equivalent to sft_render's char spans: decoding the
    mask-1 tokens reproduces precisely the rendered string's loss-span
    characters). ``segment_sizes`` carries per-segment token counts in
    turn order (3 per turn) — the turn boundaries packing needs.

    Plan: segment pre-tokenization is pure codegen inside one array
    ``transform`` (regexp over the lambda variable), and the encode is
    ONE Arrow projection (`_bpe_encode_segments_udf`) — zero joins,
    zero exchanges, a map stage at any scale."""
    from kusto_pre_forge_spark.operators.textprep import (
        _bpe_encode_segments_udf,
        byte_pretokens,
    )

    turns = F.col(turns_col)
    segs = F.flatten(
        F.transform(
            turns,
            lambda x: F.array(
                F.struct(
                    byte_pretokens(
                        F.concat(F.lit("<|"), x["role"], F.lit("|>\n"))
                    ).alias("toks"),
                    F.lit(0).cast("int").alias("m"),
                ),
                F.struct(
                    byte_pretokens(
                        F.coalesce(x["content"], F.lit(""))
                    ).alias("toks"),
                    F.when(x["role"] == F.lit(assistant_role), 1)
                    .otherwise(0)
                    .cast("int")
                    .alias("m"),
                ),
                F.struct(
                    byte_pretokens(F.lit("<|end|>\n")).alias("toks"),
                    F.lit(0).cast("int").alias("m"),
                ),
            ),
        )
    )
    enc = _bpe_encode_segments_udf(merges, vocab_ids)
    t = df.select(F.col(id_col), enc(segs).alias("_s"))
    return t.select(
        id_col,
        F.col("_s.input_ids").alias("input_ids"),
        F.col("_s.loss_mask").alias("loss_mask"),
        F.col("_s.segment_sizes").alias("segment_sizes"),
        F.size("_s.input_ids").cast("long").alias("n_tokens"),
        F.aggregate(
            "_s.loss_mask",
            F.lit(0).cast("long"),
            lambda acc, m: acc + m.cast("long"),
        ).alias("n_loss_tokens"),
    )
