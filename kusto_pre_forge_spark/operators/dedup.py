"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference surface (SURVEY §2.5 notes the reference has no joins or
dedup at all — its only idempotency is the ingest-by tag, Text/TextKustoSink.cs:50-51);
these are the BASELINE.json north-star extensions. All operators are
DataFrame-in / DataFrame-out, shuffle-conscious, and collect nothing:

- exact_dedup        — content-hash groupBy (one shuffle on a 128-bit key)
- minhash_lsh_pairs  — shingle → MinHash → banded LSH → bucket join →
                       exact-Jaccard verify (the standard near-dup pipeline;
                       cf. Broder 1997, "On the resemblance and containment
                       of documents")
- simhash            — 64-bit Charikar fingerprint + chunk-banded Hamming
                       candidate pairs (Charikar 2002; Manku et al. 2007)
- ngram_jaccard_pairs— exact n-gram Jaccard via shared-shingle join (no
                       cross join: pairs are generated only for documents
                       sharing at least one shingle)
- embedding_dup_pairs— cosine near-duplicates over an embedding column

Determinism: hashes an oracle must replay (exact dedup, SimHash) are
md5-derived (identical hex in Spark and DuckDB). MinHash's internal shingle
hash is xxhash64 and its signature a vectorized numpy pandas_udf — the
exact-Jaccard verify stage makes the output independent of those internals,
so the DuckDB oracle checks the *semantics* (pairs with true Jaccard ≥
threshold), not the signature bytes. Everything else stays in codegen.
"""

from __future__ import annotations

import functools
import operator
import random

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kusto_pre_forge_spark.functions.hashing import content_hash
from kusto_pre_forge_spark.pinning import pin

# 2^31-ish prime for the universal-hash family (a*x + b) % P; fits in long
# arithmetic without overflow for 32-bit inputs.
_MH_PRIME = 2_147_483_647


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep exactly one row (min id) per distinct text content.

    Scale: groupBy on the md5 fingerprint, not the full text — the shuffle
    moves 16-byte keys + ids, then a semi-join restores surviving rows.
    (A window over the hash would shuffle whole documents.)
    """
    survivors = (
        df.select(content_hash(text_col).alias("_h"), F.col(id_col))
        .groupBy("_h")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(survivors, id_col, "left_semi")


def char_shingles(col: Column | str, n: int = 5, lowercase: bool = True) -> Column:
    """Distinct character n-gram array (lowercased) — dedup's unit of text.

    ⚠ expressions referenced inside a higher-order-function lambda are
    re-evaluated PER ELEMENT (no CSE across iterations), so the lowering
    must not ride into the per-position substring — pass an
    already-lowered materialized column with ``lowercase=False`` on hot
    paths (an inline ``lower()`` here costs O(len²) re-lowering).
    """
    c = F.col(col) if isinstance(col, str) else col
    if lowercase:
        c = F.lower(c)
    idx = F.sequence(F.lit(1), F.greatest(F.length(c) - F.lit(n - 1), F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: F.substring(c, i, n)))


def _minhash_coeffs(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [
        (rng.randrange(1, _MH_PRIME), rng.randrange(0, _MH_PRIME))
        for _ in range(num_hashes)
    ]


def minhash_signature_udf(num_hashes: int = 64, seed: int = 7):
    """Vectorized numpy signature: for each doc's hash array h (n,), the
    signature is min over rows of (h[:,None] * A + B) % P — one C-level
    matrix op per Arrow batch. Measured ~8× faster than 64 interpreted
    HOF min-folds (one per hash lane) at sf0.1; products stay
    under 2^63 (h < 2^32, a,b < P < 2^31) so int64 arithmetic is exact.
    """
    coeffs = _minhash_coeffs(num_hashes, seed)
    A = np.array([c[0] for c in coeffs], dtype=np.int64)[None, :]
    B = np.array([c[1] for c in coeffs], dtype=np.int64)[None, :]

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sig(hs: pd.Series) -> pd.Series:
        return pd.Series(
            [
                ((np.asarray(h, dtype=np.int64)[:, None] * A + B) % _MH_PRIME).min(
                    axis=0
                )
                for h in hs
            ]
        )

    return sig


def _mh_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    shingle_n: int,
    seed: int,
) -> DataFrame:
    """(_id, _sig) MinHash signatures — the shared first stage of the batch
    and incremental LSH pipelines.

    Exchange placement, carefully chosen:
    1. repartition the RAW (lowered) text first — a small parquet file
       arrives as one split, and without this the shingle+hash work (the
       expensive step) runs in the single-core scan stage. Shuffling text
       is ~13× cheaper than shuffling the shingle arrays it expands into.
       Explicit partition count: AQE's coalescer sizes stages by shuffle
       BYTES, and raw text is tiny relative to the CPU the next stage
       burns on it — left to itself it folds the stage back to one task.
    2. the signature path NEVER materializes shingle STRINGS: the hash
       array comes straight from substring positions (xxhash64 masked to
       32 bits, JVM codegen), and duplicates are left in — a MinHash min
       over a multiset equals the min over its set, so the per-doc
       array_distinct and the string array allocation are pure waste
       here. Distinct string shingles are computed later, for CANDIDATE
       docs only, where exact Jaccard actually needs them.
    3. ``_lt`` must be a MATERIALIZED attribute before the per-position
       transform: HOF lambda bodies re-evaluate per element (no CSE), so
       an inline lower() would re-lowercase the whole document once per
       shingle position — O(len²) character work.
    """
    n_part = df.sparkSession.sparkContext.defaultParallelism
    sig_udf = minhash_signature_udf(num_hashes, seed)
    lowered = F.col("_lt")
    positions = F.sequence(
        F.lit(1), F.greatest(F.length(lowered) - F.lit(shingle_n - 1), F.lit(1))
    )
    h32 = F.transform(
        positions,
        lambda i: F.xxhash64(F.substring(lowered, i, shingle_n)).bitwiseAND(
            F.lit(0xFFFFFFFF)
        ),
    )
    return (
        df.select(F.col(id_col).alias("_id"), F.lower(F.col(text_col)).alias("_lt"))
        .repartition(n_part, "_id")
        .select("_id", h32.alias("_h32"))
        .withColumn("_sig", sig_udf(F.col("_h32")))
        .drop("_h32")
    )


def _mh_band_keys(base: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """(_id, band, key) — band keys WITHOUT payload: the bucket join only
    ever shuffles (id, band, 128-bit key) rows; shingle/signature arrays
    never ride through the (potentially hot-bucket-inflated) candidate
    explosion."""
    return base.select(
        "_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.md5(
                        F.concat_ws(
                            ",", F.slice("_sig", b * rows_per_band + 1, rows_per_band)
                        )
                    ).alias("key"),
                ),
            )
        ).alias("bk"),
    ).select("_id", "bk.band", "bk.key")


def _hot_buckets(
    keyed: DataFrame, key_cols: list[str], max_bucket_size: int
) -> DataFrame:
    """Over-cap buckets on ``key_cols`` — the shared hot-bucket valve's
    drop set: a bucket holding k rows contributes k·(k-1)/2 candidate
    rows to a pair self-join, so ONE degenerate key (boilerplate LSH
    band, all-zero dHash from blank images) shared by 1% of a 100 TB
    corpus makes the join quadratic. The aggregate is tiny relative to
    the corpus and capping bounds every bucket's contribution to
    max_bucket_size²/2. (No broadcast hint on the consuming anti-join:
    the over-cap set is usually tiny but corpus-dependent — AQE picks
    broadcast vs shuffle at runtime.)

    Callers: :func:`_bucket_pairs` (the (band, key) buckets of both
    MinHash-LSH paths and the (chunk, value) buckets of
    :func:`hamming_pairs` / :func:`simhash_pairs`), the stop-shingle
    ``max_doc_freq`` of :func:`ngram_jaccard_pairs`, and the hot-cell
    ``max_cell_size`` of :func:`semdedup` and
    :func:`incremental_semdedup_accept`."""
    return (
        keyed.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > max_bucket_size)
        .select(*key_cols)
    )


def _apply_hot_bucket_valve(
    keyed: DataFrame,
    key_cols: list[str],
    max_bucket_size: int | None,
    journal=None,
    counter: str = "HotBucketsDropped",
) -> DataFrame:
    """Anti-join the over-cap buckets away; when a ``PerfJournal`` is
    given, record the dropped-bucket count (one tiny aggregate job, one
    row of driver traffic — the same bounded pattern as the CC round
    checksum)."""
    if max_bucket_size is None:
        return keyed
    hot = _hot_buckets(keyed, key_cols, max_bucket_size)
    if journal is not None:
        journal.add_reading(counter, hot.count())
    return keyed.join(hot, key_cols, "left_anti")


def _bucket_pairs(
    keyed: DataFrame,
    keys: list[str],
    probe: DataFrame | None = None,
    carry: dict[str, tuple[str, str]] | None = None,
    max_bucket_size: int | None = None,
    journal=None,
    counter: str = "HotBucketsDropped",
) -> DataFrame:
    """The one candidate join of every banded near-dup finder: rows of
    ``_id`` plus bucket columns ``keys`` pair up when they share a
    bucket. Returns distinct ``(id_a < id_b[, carried columns])``.

    Without ``probe``: a self-join of ``keyed`` on ``l._id < r._id``.
    With ``probe``: ``probe × keyed`` on ``l._id != r._id``, each pair
    canonicalized with ``least``/``greatest`` (a pair found from both
    sides collapses in the de-duplication) — cost scales with ``probe``,
    never with ``keyed`` against itself.

    ``carry`` maps a column to the names of its two pair-side copies:
    aligned with ``id_a``/``id_b`` in the self-join, the pair's
    ``least``/``greatest`` in the probe join (fine for a symmetric
    verifier such as Levenshtein).

    ``max_bucket_size`` is the hot-bucket valve, journaled under
    ``counter`` when ``journal`` is given; its drop set is counted over
    ``keyed`` alone and removed from both sides.
    """
    if probe is not None and max_bucket_size is not None:
        probe = probe.join(_hot_buckets(keyed, keys, max_bucket_size), keys, "left_anti")
    keyed = _apply_hot_bucket_valve(keyed, keys, max_bucket_size, journal, counter)

    on = [F.col(f"l.{k}") == F.col(f"r.{k}") for k in keys]
    if probe is None:
        l, r = keyed.alias("l"), keyed.alias("r")
        on.append(F.col("l._id") < F.col("r._id"))
        lo, hi = (lambda c: F.col(f"l.{c}")), (lambda c: F.col(f"r.{c}"))
    else:
        l, r = probe.alias("l"), keyed.alias("r")
        on.append(F.col("l._id") != F.col("r._id"))
        lo, hi = (
            (lambda c: F.least(f"l.{c}", f"r.{c}")),
            (lambda c: F.greatest(f"l.{c}", f"r.{c}")),
        )
    cols = [lo("_id").alias("id_a"), hi("_id").alias("id_b")]
    for c, (name_a, name_b) in (carry or {}).items():
        cols += [lo(c).alias(name_a), hi(c).alias(name_b)]
    return (
        l.join(r, functools.reduce(operator.and_, on))
        .select(*cols)
        .dropDuplicates(["id_a", "id_b"])
    )


def _mh_sig_prefilter(
    cand: DataFrame, sigs: DataFrame, num_hashes: int, threshold: float
) -> DataFrame:
    """Prefilter candidate pairs on signature agreement (E[agree] =
    jaccard; the 0.2 slack makes a false drop of a >=threshold pair a
    >10-sigma event at 64 hashes) — signatures come from the pinned
    signature frame, so this costs no recompute and shrinks the set that
    needs real shingle payloads."""
    sig_a = sigs.select(F.col("_id").alias("id_a"), F.col("_sig").alias("sig_a"))
    sig_b = sigs.select(F.col("_id").alias("id_b"), F.col("_sig").alias("sig_b"))
    sig_agree = (
        F.size(
            F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda z: z)
        )
        / F.lit(float(num_hashes))
    )
    return (
        cand.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .filter(sig_agree >= threshold - 0.2)
        .select("id_a", "id_b")
    )


def _mh_exact_verify(
    surviving: DataFrame,
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int,
    threshold: float,
) -> DataFrame:
    """Exact-Jaccard verify over DISTINCT STRING shingles — computed only
    for docs that appear in a surviving candidate pair, a vanishing
    fraction of the corpus. Re-scans the source for just those payloads
    (a map-side join against the small id set — AQE broadcasts it)
    instead of having shingled every document up front: one extra
    column-pruned scan is far cheaper at 100 TB than computing + pinning
    length-dependent shingle arrays for every doc."""
    ids = (
        surviving.select(F.col("id_a").alias("_vid"))
        .union(surviving.select(F.col("id_b").alias("_vid")))
        .distinct()
    )
    payload = (
        # lowered BEFORE the shingle transform (attribute, not inline —
        # see char_shingles' per-element re-evaluation note)
        df.select(F.col(id_col).alias("_vid"), F.lower(F.col(text_col)).alias("_vlt"))
        .join(ids, "_vid")
        .select(
            "_vid", char_shingles("_vlt", shingle_n, lowercase=False).alias("_vsh")
        )
    )
    a = payload.select(F.col("_vid").alias("id_a"), F.col("_vsh").alias("sh_a"))
    b = payload.select(F.col("_vid").alias("id_b"), F.col("_vsh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    # Explicit broadcast: the payload side holds shingle arrays for
    # POST-PREFILTER candidate docs only — bounded by the signature
    # prefilter (and the hot-bucket valve upstream), the same side the
    # batch path's size estimation already broadcasts. The hint keeps the
    # incremental path (whose union-of-scans input defeats size
    # estimation and fell back to sort-merge pre-AQE) on the identical
    # hash-join plan; candidate explosions are prevented by the valve,
    # not by this join choice.
    return (
        surviving.join(F.broadcast(a), "id_a")
        .join(F.broadcast(b), "id_b")
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 5,
    threshold: float = 0.8,
    seed: int = 7,
    max_bucket_size: int | None = None,
    pin_mode: str = "persist",
) -> DataFrame:
    """Near-duplicate pairs via MinHash + banded LSH + exact verify.

    Plan shape (the scalable standard):
      1. per-doc signature (narrow, codegen)
      2. explode to ``bands`` rows/doc, band key = md5 of the band slice
      3. self-join on (band, key) with id_a < id_b → candidates (the only
         shuffle that matters; bucket sizes are bounded because identical
         bands imply high similarity)
      4. exact Jaccard on distinct shingle arrays filters false positives

    Returns (id_a, id_b, jaccard) with jaccard ≥ threshold.

    ``max_bucket_size`` is the hot-bucket valve (the ``max_doc_freq``
    analogue of ``ngram_jaccard_pairs``): a band bucket holding k docs
    contributes k·(k-1)/2 candidate rows, so ONE boilerplate template
    shared by 1% of a 100 TB corpus makes a bucket quadratic. Buckets
    larger than the cap are dropped from the candidate join entirely.
    Recall note: a true near-dup pair agreeing on several bands survives
    unless ALL of its shared bands are over-cap — and an over-cap bucket
    means ≥ cap docs share that band, i.e. the pair is part of a giant
    near-identical cluster that exact dedup / cluster resolution handles
    more cheaply than pairwise LSH. ``None`` = exact banding (the
    oracle-checked configuration).

    ``pin_mode`` controls how the shared intermediates — the (id,
    signature) frame consumed by the band keys and both prefilter sides,
    and the post-prefilter candidate pairs — are materialized; see
    ``kusto_pre_forge_spark.pinning``. The default lazy
    ``persist(MEMORY_AND_DISK)`` keeps lineage, so an executor loss
    recomputes lost partitions instead of failing the job; the first
    consumer's action populates the cache for the other consumers.
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    rows_per_band = num_hashes // bands

    # Materialize (id, signature) ONCE — 64 longs per doc, nothing else.
    # (ReuseExchange can't share the signature across consumers: column
    # pruning specializes each consumer's subtree and the executed plan
    # ran the Arrow UDF 4× when this relied on exchange reuse — verified
    # post-AQE.) The lazy persist pins the computed frame while KEEPING
    # lineage — executor loss recomputes lost partitions instead of
    # failing the job, and the first consumer's action populates the
    # cache for the rest of the DAG. Earlier revisions persisted the
    # string shingle arrays too (~5× the raw text); pinning only the
    # fixed-width signatures makes the pinned footprint independent of
    # document length — at 100 TB that is the difference between caching
    # ~3 KB/doc and 512 B/doc.
    base = pin(_mh_signatures(df, text_col, id_col, num_hashes, shingle_n, seed), pin_mode)

    cand = _bucket_pairs(
        _mh_band_keys(base, bands, rows_per_band),
        ["band", "key"],
        max_bucket_size=max_bucket_size,
    )

    # Pinned: the prefiltered pair set is referenced twice by the verify
    # stage (the distinct-id set and the final pair join) — and it is tiny.
    surviving = pin(_mh_sig_prefilter(cand, base, num_hashes, threshold), pin_mode)
    return _mh_exact_verify(surviving, df, text_col, id_col, shingle_n, threshold)


def minhash_lsh_pairs_incremental(
    corpus_df: DataFrame,
    new_df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 5,
    threshold: float = 0.8,
    seed: int = 7,
    max_bucket_size: int | None = None,
    pin_mode: str = "persist",
) -> DataFrame:
    """Continuous-ingestion near-dup: pairs (id_a < id_b, jaccard ≥
    threshold) where AT LEAST ONE side is a newly arrived document —
    semantically ``minhash_lsh_pairs(corpus ∪ new)`` minus the
    corpus-internal pairs, without ever re-pairing the existing corpus
    against itself.

    This is the operating mode the reference's arrival-driven ETL implies
    (SURVEY §3.2): each micro-batch of landed documents is deduplicated
    against everything already ingested. The candidate join is
    ``banded_new × banded_all`` — its cost scales with the BATCH, not the
    corpus: per band bucket, only (new × bucket) candidates materialize,
    and the corpus side contributes exactly the (id, band, 16-byte key)
    rows the buckets of the new docs touch. The hot-bucket valve is
    computed over the UNION banding (same drop set as the batch run, so
    incremental results compose with batch semantics).

    ``corpus_df`` and ``new_df`` must have disjoint ids. At 100 TB the
    corpus signatures/band keys are a maintained table appended per batch
    (the signature stage is deterministic in (seed, text), so stored and
    recomputed keys agree); here they are recomputed from ``corpus_df``
    to stay self-contained.
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    rows_per_band = num_hashes // bands

    sig_new = pin(
        _mh_signatures(new_df, text_col, id_col, num_hashes, shingle_n, seed),
        pin_mode,
    )
    sig_old = pin(
        _mh_signatures(corpus_df, text_col, id_col, num_hashes, shingle_n, seed),
        pin_mode,
    )
    banded_new = _mh_band_keys(sig_new, bands, rows_per_band)
    banded_all = _mh_band_keys(sig_old, bands, rows_per_band).unionByName(banded_new)
    cand = _bucket_pairs(
        banded_all, ["band", "key"], probe=banded_new, max_bucket_size=max_bucket_size
    )
    sigs = sig_old.unionByName(sig_new)
    surviving = pin(_mh_sig_prefilter(cand, sigs, num_hashes, threshold), pin_mode)
    src = corpus_df.select(F.col(id_col), F.col(text_col)).unionByName(
        new_df.select(F.col(id_col), F.col(text_col))
    )
    return _mh_exact_verify(surviving, src, text_col, id_col, shingle_n, threshold)


def _chunk_layout(n_bits: int, chunks: int) -> list[tuple[int, int]]:
    """(shift, mask) per pigeonhole chunk, covering ALL ``n_bits`` bits.

    ``n_bits // chunks`` alone silently leaves the top ``n_bits %
    chunks`` bits outside every band — two fingerprints differing only
    there would share every chunk and the documented pigeonhole
    guarantee (recall 1.0 when ``chunks > max_hamming``) would fail
    without a trace. The LAST chunk absorbs the remainder bits instead;
    unequal widths are safe because every join/compare keys on
    (chunk_index, chunk_value)."""
    if chunks < 1 or chunks > n_bits:
        raise ValueError(f"chunks must be in [1, {n_bits}], got {chunks}")
    base = n_bits // chunks
    layout = []
    for i in range(chunks):
        width = base if i < chunks - 1 else n_bits - base * (chunks - 1)
        layout.append((i * base, (1 << width) - 1))
    return layout


def _hamming_pairs(
    fp: DataFrame,
    n_bits: int,
    chunks: int,
    max_hamming: int,
    pin_mode: str,
    max_bucket_size: int | None,
    journal,
    counter: str,
    out_col: str,
) -> DataFrame:
    """The one pigeonhole-banded core of :func:`simhash_pairs` and
    :func:`hamming_pairs` over an ``(_id, _fp)`` frame: the candidate
    join is :func:`_bucket_pairs` on (chunk_index, chunk_value), exact
    ``bit_count(xor)`` verifies into ``out_col``. ``fp`` feeds both join
    sides, so it is pinned."""
    if chunks <= max_hamming:
        raise ValueError("need chunks > max_hamming for recall completeness")
    fp = pin(fp, pin_mode)
    chunk_structs = [
        F.struct(
            F.lit(i).alias("ci"),
            F.shiftright(F.col("_fp"), shift).bitwiseAND(mask).alias("cv"),
        )
        for i, (shift, mask) in enumerate(_chunk_layout(n_bits, chunks))
    ]
    chunked = fp.select(
        "_id", "_fp", F.explode(F.array(*chunk_structs)).alias("c")
    ).select("_id", "_fp", "c.ci", "c.cv")
    cand = _bucket_pairs(
        chunked,
        ["ci", "cv"],
        carry={"_fp": ("fp_a", "fp_b")},
        max_bucket_size=max_bucket_size,
        journal=journal,
        counter=counter,
    )
    return (
        cand.withColumn(
            out_col, F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))).cast("int")
        )
        .filter(F.col(out_col) <= max_hamming)
        .select("id_a", "id_b", out_col)
    )


def token_hashes60(col: Column | str, token_split: str = r"\s+") -> Column:
    """Per-token 60-bit hashes (first 15 md5 hex chars → positive long)."""
    c = F.col(col) if isinstance(col, str) else col
    toks = F.split(F.lower(F.trim(c)), token_split)
    return F.transform(
        toks, lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")
    )


#: SimHash bit-fold over a precomputed `_th` token-hash array column.
#: Written as SQL because the bit index is a lambda variable — SQL's
#: shiftright takes expressions, the Python wrapper only ints. Bit b of the
#: fingerprint is set iff a strict majority of token hashes have bit b set.
_SIMHASH_EXPR = """
aggregate(
  sequence(59, 0, -1),
  cast(0 as bigint),
  (acc, b) -> acc * 2 + if(
      2 * aggregate(_th, cast(0 as bigint),
                    (c, h) -> c + (shiftright(h, b) & 1)) > size(_th),
      1, 0)
)
"""


def simhash_fingerprints(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, _fp) — 60-bit SimHash fingerprint per document."""
    return (
        df.select(F.col(id_col).alias("_id"), token_hashes60(text_col).alias("_th"))
        .withColumn("_fp", F.expr(_SIMHASH_EXPR))
        .select("_id", "_fp")
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    chunks: int = 4,
    pin_mode: str = "persist",
    max_bucket_size: int | None = None,
    journal=None,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming``.

    Pigeonhole banding (Manku et al., WWW'07): split the 60-bit fingerprint
    into ``chunks`` pieces; any pair within distance ``chunks - 1`` shares
    at least one exact chunk, so the join key is (chunk_index, chunk_value)
    — never a cross join. Exact Hamming verify via bit_count(xor). Raises
    ``ValueError`` unless ``chunks > max_hamming`` (below that the
    pigeonhole guarantee fails and pairs would silently go missing).

    ``max_bucket_size`` is the hot-bucket valve (same pattern as
    ``minhash_lsh_pairs``): a degenerate fingerprint — e.g. the all-zero
    SimHash of trivially short/empty text, extremely common in crawl
    data — puts k docs in one (chunk, value) bucket and k²/2 rows into
    the self-join. Over-cap buckets are dropped from the join (such docs
    are near-identical blobs that exact dedup handles more cheaply);
    the drop count lands in ``journal`` when given. ``None`` = exact
    banding (the oracle-checked configuration).
    """
    fp = simhash_fingerprints(df, text_col, id_col)
    return _hamming_pairs(
        fp, 60, chunks, max_hamming, pin_mode,
        max_bucket_size, journal, "SimHashPairs.HotBucketsDropped", "hamming",
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 5,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
    pin_mode: str = "persist",
) -> DataFrame:
    """Exact n-gram Jaccard similarity for every pair sharing ≥1 shingle.

    Inverted-index join: explode shingles → join on shingle → count shared
    per pair → Jaccard = shared / (|A| + |B| - shared). Only co-shingled
    pairs are materialized.

    ``max_doc_freq`` is the scale valve: a stop-shingle appearing in k
    documents contributes k² candidate rows to the self-join — one
    boilerplate phrase across 1% of a large corpus makes the join
    quadratic. Setting ``max_doc_freq`` drops shingles whose document
    frequency exceeds it from the JOIN only; per-document shingle counts
    (the Jaccard denominator) stay exact, so reported similarities are
    underestimates that can only miss pairs whose overlap consists of
    corpus-common boilerplate — which is what dedup wants to ignore
    anyway. ``None`` = exact (the oracle-checked configuration).
    """
    # The shingle index feeds the size aggregate, the optional hot-shingle
    # filter, and BOTH sides of the inverted-index self-join — four
    # consumers whose pruned subtrees defeat exchange reuse (observed: 4
    # source scans + 4 shingle explosions per call). Pin it once (lazy
    # persist — lineage kept, cache filled by the first consumer); it is
    # the same data the join shuffles anyway.
    sh = pin(
        # two-step select: lowering materializes before the per-position
        # transform (see char_shingles' per-element re-evaluation note)
        df.select(
            F.col(id_col).alias("_id"), F.lower(F.col(text_col)).alias("_lt")
        ).select(
            "_id",
            F.explode(char_shingles("_lt", shingle_n, lowercase=False)).alias("s"),
        ),
        pin_mode,
    )
    sizes = sh.groupBy("_id").agg(F.count(F.lit(1)).alias("n_sh"))

    # shingles are distinct per doc, so a shingle's row count is its
    # document frequency
    sh_join = _apply_hot_bucket_valve(sh, ["s"], max_doc_freq)

    l, r = sh_join.alias("l"), sh_join.alias("r")
    shared = (
        l.join(r, (F.col("l.s") == F.col("r.s")) & (F.col("l._id") < F.col("r._id")))
        .groupBy(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    out = (
        shared.join(sizes.withColumnRenamed("_id", "id_a").withColumnRenamed("n_sh", "na"), "id_a")
        .join(sizes.withColumnRenamed("_id", "id_b").withColumnRenamed("n_sh", "nb"), "id_b")
        .withColumn(
            "jaccard",
            F.col("shared").cast("double")
            / (F.col("na") + F.col("nb") - F.col("shared")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def embedding_dup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
    bucket_bits: int = 0,
    seed: int = 11,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs.

    ``bucket_bits = 0`` → exact all-pairs (for oracle-checkable small runs).
    ``bucket_bits > 0`` → random-hyperplane LSH pre-bucketing (the scale
    path): pairs are only compared within a sign-pattern bucket, trading
    recall for a ~2^bits reduction in comparisons. Within-bucket scoring is
    one Arrow batch per bucket (``applyInPandas``) doing the pairwise
    cosine as fused numpy ops — accumulated dimension-by-dimension, the
    SAME left-to-right IEEE addition order as the ``F.aggregate`` fold and
    DuckDB's ``list_dot_product``, so the 'cosine >= threshold' cut and the
    SQL oracle stay bit-exact (the cosine_topk_ivf trick). An interpreted
    per-pair HOF fold here costs ~dim lambda evals per candidate pair —
    ~100× this form.

    Parallelism of the scale path = 2^bucket_bits groups; size ``bits`` to
    the cluster (and to keep one bucket's vectors in one task's memory) —
    at 100 TB you'd run 16-20 bits, giving ~65k-1M way parallelism and
    ~n/2^bits vectors per group.
    """
    from kusto_pre_forge_spark.operators.similarity import cosine, hyperplane_bucket

    v = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    if bucket_bits > 0:
        v = v.withColumn("_bkt", hyperplane_bucket(F.col("_v"), bucket_bits, seed))

        def _bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
            ids = pdf["_id"].to_numpy()
            n = len(ids)
            if n < 2:
                return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                    {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
                )
            order = np.argsort(ids, kind="stable")
            ids = ids[order]
            V = np.array(
                [np.asarray(x, dtype=np.float64) for x in pdf["_v"].iloc[order]]
            )
            # dimension-at-a-time accumulation == the fold's addition order
            G = np.zeros((n, n))
            sq = np.zeros(n)
            for d in range(V.shape[1]):
                col = V[:, d]
                G += col[:, None] * col[None, :]
                sq += col * col
            nrm = np.sqrt(sq)
            cos = G / (nrm[:, None] * nrm[None, :])
            ia, ib = np.triu_indices(n, k=1)
            keep = cos[ia, ib] >= threshold
            return pd.DataFrame(
                {
                    "id_a": ids[ia[keep]],
                    "id_b": ids[ib[keep]],
                    "cosine": cos[ia[keep], ib[keep]],
                }
            )

        return v.groupBy("_bkt").applyInPandas(
            _bucket_pairs, "id_a long, id_b long, cosine double"
        )

    l, r = v.alias("l"), v.alias("r")
    pairs = l.join(r, F.col("l._id") < F.col("r._id")).select(
        F.col("l._id").alias("id_a"),
        F.col("r._id").alias("id_b"),
        cosine(F.col("l._v"), F.col("r._v")).alias("cosine"),
    )
    return pairs.filter(F.col("cosine") >= threshold).select("id_a", "id_b", "cosine")


# ---------------------------------------------------------------------------
# Duplicate-cluster resolution: pairs → components → survivors
# ---------------------------------------------------------------------------
# Every pair generator above answers "which documents are similar"; the
# 100 TB question is "which rows do I drop". Near-dup pairs are the edges
# of a graph whose connected components are the duplicate clusters; the
# standard resolution keeps one representative (min id) per component and
# drops the rest. Up to _CC_SINGLE_TASK_EDGES distinct edges (every test
# and benchmark size) the components come from ONE union-find task over
# the checkpointed edge list. Past that bound they come from the
# alternating large-star / small-star algorithm (Kiveris et al. 2014,
# "Connected Components in MapReduce and Beyond"): O(log n) rounds, each
# round two key-partitioned aggregations — no vertex ever sees more than
# its neighborhood, so it scales to billions of edges where a naive
# transitive-closure join blows up.


_CC_SINGLE_TASK_EDGES = 2_000_000


def connected_components(
    pairs: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iterations: int = 16,
) -> DataFrame:
    """(id, cluster_id) for every node in ``pairs``; cluster_id = the
    component's minimum id.

    Driver-side loop, but nothing unbounded is collected: each round runs
    one count+checksum action over the edge frame to test convergence.
    Rounds are capped at ``max_iterations`` (the algorithm converges in
    O(log n) rounds — 16 covers any realistic corpus; a non-converged exit
    still returns valid labels, just possibly splitting one component).

    Each round ends in an eager ``localCheckpoint``: a round references the
    previous edge frame ~8× (symmetrize + two self-joins), so without
    lineage truncation the LOGICAL plan grows 8^rounds and Catalyst
    analysis — not execution — becomes the bottleneck. Truncation is the
    standard for driver-loop graph iteration (GraphX/GraphFrames
    checkpoint the same way). Trade-off: executor loss mid-computation
    fails the op (rerun it) instead of recomputing lineage — acceptable
    for a bounded O(log n)-round job, unlike the long-lived pipelines
    where ``pinning.pin`` keeps lineage on purpose.
    """
    # the checkpoint job below fills this: the size gate costs no job
    edge_count = Observation("cc_edges")
    edges = (
        pairs.select(
            F.col(src_col).cast("long").alias("u"),
            F.col(dst_col).cast("long").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .observe(edge_count, F.count(F.lit(1)).alias("n"))
        # Materialize the input ONCE before iterating: round 0 references
        # the edge frame ~4× (symmetrize + two self-joins), and `pairs` is
        # typically an expensive pipeline (banded LSH + exact verify) —
        # without this it re-executes per reference (measured 32 s → 13 s
        # on dedup_clusters at sf0.1, where the LSH is ~10 s of the plan).
        .localCheckpoint(eager=True)
    )

    # Scale-adaptive single-task path (guide §1.2 — pick the distributed
    # algorithm by the data's actual shape): duplicate-pair sets are a
    # vanishing fraction of the corpus, and component labels are a pure
    # INTEGER graph property — any algorithm produces the same min-id
    # labels. When the deduped edge list is bounded (2M edges, ~32 MB
    # of id pairs), one union-find task over the checkpointed edges
    # replaces the alternating-star
    # loop's ~(4-6 shuffles + 1 job) per round — measured ~25 sequential
    # scheduler-bound jobs on dedup_clusters at bench scale. Edge sets
    # past the bound (a truly duplicate-heavy 100 TB corpus) keep the
    # O(log n)-round distributed loop below.
    if edge_count.get["n"] <= _CC_SINGLE_TASK_EDGES:

        def _union_find(it):
            parent: dict = {}

            def find(x):
                root = x
                while parent[root] != root:
                    root = parent[root]
                while parent[x] != root:
                    parent[x], x = root, parent[x]
                return root

            for pdf in it:
                for u, v in zip(pdf["u"].tolist(), pdf["v"].tolist()):
                    if u not in parent:
                        parent[u] = u
                    if v not in parent:
                        parent[v] = v
                    ru, rv = find(u), find(v)
                    if ru != rv:
                        if ru < rv:
                            parent[rv] = ru
                        else:
                            parent[ru] = rv
            ids = sorted(parent)
            yield pd.DataFrame(
                {"id": ids, "cluster_id": [find(i) for i in ids]}
            ).astype({"id": "int64", "cluster_id": "int64"})

        return edges.coalesce(1).mapInPandas(
            _union_find, "id long, cluster_id long"
        )

    def checksum(df: DataFrame):
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("x"),
        ).collect()[0]
        return row["n"], row["x"]

    prev_sum = None
    for _ in range(max_iterations):
        # Large-star: connect every neighbor larger than u to
        # min(Γ(u) ∪ {u}). Neighborhoods are the symmetrized edge list.
        nbr = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            nbr.groupBy("u")
            .agg(F.min("v").alias("_mv"))
            .select("u", F.least(F.col("u"), F.col("_mv")).alias("m"))
        )
        large = (
            nbr.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

        # Small-star: orient edges toward the smaller endpoint, then hang
        # every small neighbor (and u itself) off the neighborhood min.
        directed = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        dmins = directed.groupBy("u").agg(F.min("v").alias("m"))
        hang_nbrs = (
            directed.join(dmins, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        hang_self = dmins.select("u", F.col("m").alias("v"))
        # Lazy localCheckpoint (lineage truncation, see docstring): the
        # checksum action right below materializes it, so each round costs
        # ONE Spark job, not an eager-checkpoint job plus a checksum job —
        # measured 1.7× on the end-to-end dedup_clusters query at sf0.1.
        edges = (
            hang_nbrs.union(hang_self)
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=False)
        )

        cur_sum = checksum(edges)  # materializes the checkpoint
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum

    # Fixpoint edges form stars u → root(min). Labels: every satellite
    # points at its root; roots label themselves.
    sat = edges.select(F.col("u").alias("id"), F.col("v").alias("cluster_id"))
    roots = edges.select(F.col("v").alias("id")).distinct().withColumn(
        "cluster_id", F.col("id")
    )
    labels = sat.unionByName(roots).distinct()
    # a satellite of a merged star may briefly appear as a stale root too;
    # keep the smallest label per id (min is always the true component root)
    return labels.groupBy("id").agg(F.min("cluster_id").alias("cluster_id"))


def dedup_survivors(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iterations: int = 16,
    priority_col: str | None = None,
) -> DataFrame:
    """Drop all but one representative of every duplicate cluster.

    Default policy keeps the min-id member. With ``priority_col``, the
    survivor is the member with the HIGHEST priority (ties → lowest id) —
    the "keep the longest / highest-quality copy" rule real pipelines
    want (priority = n_chars, a quality score, a recency stamp …).

    ``pairs`` is the output of any pair generator above (minhash_lsh,
    simhash, ngram, embedding). Rows not in any pair are kept untouched.
    One anti-join against the (small) drop set — the corpus itself is
    never shuffled; the priority lookup joins the label set (clustered
    docs only, a vanishing fraction) back to the source, and the
    per-cluster argmax is one map-side-combinable ``max_by`` aggregate.
    """
    labels = connected_components(pairs, src_col, dst_col, max_iterations)
    if priority_col is None:
        drops = labels.filter(F.col("id") != F.col("cluster_id")).select(
            F.col("id").alias(id_col)
        )
    else:
        pri = df.select(
            F.col(id_col).alias("id"), F.col(priority_col).alias("_p")
        )
        lab = labels.join(pri, "id")
        # max_by on (priority, -id): highest priority wins, ties break to
        # the smallest id — struct comparison gives the total order
        winners = lab.groupBy("cluster_id").agg(
            F.expr("max_by(id, struct(_p, -id))").alias("_win")
        )
        drops = (
            lab.join(winners, "cluster_id")
            .filter(F.col("id") != F.col("_win"))
            .select(F.col("id").alias(id_col))
        )
    return df.join(drops, id_col, "left_anti")


def cdc_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    divisor: int = 8,
    salt: str = "kpf-cdc",
) -> DataFrame:
    """Content-defined chunking at word granularity — the
    shift-resistant chunker (the Rabin/FastCDC idea, token-level): a
    chunk boundary falls AFTER every token whose salted md5 ≡ 0 mod
    ``divisor``, so expected chunk length is ``divisor`` tokens and —
    unlike fixed-size windows — inserting a paragraph early in a
    document does NOT reshuffle every later chunk: boundaries are a pure
    function of local content. Chunk-level exact dedup
    (:func:`cdc_duplicate_chunks`) then catches shared passages that
    whole-document hashing misses and fixed windows mis-align.

    Returns (id, chunk_id, chunk_text, n_tokens, chunk_md5).

    Plan: posexplode (map) → ONE window per doc for the running boundary
    count (keyed by the doc id, never SinglePartition) → one groupBy
    (doc, chunk) with an order-carrying collect. md5 folds keep every
    step replayable by the DuckDB oracle.
    """
    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), lambda w: w != ""
    )
    ex = df.select(F.col(id_col), F.posexplode(toks).alias("_pos", "_tok"))
    flag = (
        F.conv(
            F.substring(F.md5(F.concat_ws("|", F.lit(salt), F.col("_tok"))), 1, 8),
            16,
            10,
        ).cast("long")
        % divisor
        == 0
    ).cast("long")
    w = (
        Window.partitionBy(id_col)
        .orderBy("_pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # boundary AFTER the marker token: the marker closes its own chunk
    chunked = ex.withColumn("_b", flag).withColumn(
        "chunk_id", F.sum("_b").over(w) - F.col("_b")
    )
    return (
        chunked.groupBy(id_col, "chunk_id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("_pos", "_tok"))),
                    lambda s: s["_tok"],
                ),
                " ",
            ).alias("chunk_text"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
        .withColumn("chunk_md5", F.md5("chunk_text"))
    )


def cdc_duplicate_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    divisor: int = 8,
    min_docs: int = 2,
    min_tokens: int = 3,
    salt: str = "kpf-cdc",
) -> DataFrame:
    """Cross-document duplicated passages via CDC: chunk every document
    (:func:`cdc_chunks`), then one map-side-combined aggregate per chunk
    hash — chunks of ≥ ``min_tokens`` tokens appearing in ≥ ``min_docs``
    distinct documents. The chunk-granularity companion to
    ``exact_substring_spans`` (which is window-exact but emits every
    duplicated window; CDC emits aligned UNITS, far fewer rows).
    Returns (chunk_md5, n_tokens, n_docs, n_occurrences, sample_doc).
    """
    ch = cdc_chunks(df, text_col, id_col, divisor, salt).filter(
        F.col("n_tokens") >= min_tokens
    )
    return (
        ch.groupBy("chunk_md5", "n_tokens")
        .agg(
            F.countDistinct(id_col).alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min(id_col).alias("sample_doc"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def soft_dedup_weights(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    weight_col: str = "sample_weight",
    size_col: str = "cluster_size",
    max_iterations: int = 16,
) -> DataFrame:
    """SoftDeDup: keep EVERY near-duplicate copy but attach a sampling /
    loss weight of ``1 / cluster_size`` — the reweighting alternative to
    hard removal (SoftDeDup, He et al. 2024, arXiv:2407.06654: the
    commonness-downweighting recipe; hard dedup is the weight→{0,1}
    special case). Training samplers multiply example loss (or sampling
    probability) by the weight so a 40-copy boilerplate cluster
    contributes ~one document's worth of gradient while keeping its
    best-copy diversity available.

    ``pairs`` is any pair-generator output (minhash / simhash / ngram /
    embedding / hamming). Docs in no pair get weight 1.0, size 1.

    Plan: CC labels over the pair set only (clustered docs — a vanishing
    fraction of the corpus), one map-side-combined size aggregate on the
    labels, then ONE left join back to the corpus. The weight side is the
    clustered fraction; when it fits the broadcast threshold AQE turns
    the join broadcast and the corpus never shuffles — past that, the
    single doc-id hash join is the floor for attaching per-doc state.
    """
    labels = connected_components(pairs, src_col, dst_col, max_iterations)
    sizes = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("_csize")
    )
    w = labels.join(sizes, "cluster_id").select(
        F.col("id").alias(id_col),
        F.col("_csize").cast("long").alias(size_col),
        (F.lit(1.0) / F.col("_csize")).alias(weight_col),
    )
    return (
        df.join(w, id_col, "left")
        .withColumn(size_col, F.coalesce(F.col(size_col), F.lit(1).cast("long")))
        .withColumn(weight_col, F.coalesce(F.col(weight_col), F.lit(1.0)))
    )


def edit_distance_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_distance: int = 1,
) -> DataFrame:
    """Near-duplicate pairs under a Levenshtein bound — the short-string
    (titles, names, URLs) member of the dedup family, where shingle/
    minhash granularity is too coarse.

    Candidate generation is PassJoin-style segment-vs-window banding
    (Li et al., VLDB'11 pigeonhole): split each string into
    ``max_distance+1`` even segments; in any pair within distance k, at
    least one of A's segments survives every edit untouched, appearing
    VERBATIM in B shifted by at most k positions (the net indel offset).
    One side therefore emits its own (segment_idx, own_length, segment)
    keys; the other emits, per segment index, the substrings B holds at
    the segment boundaries of every candidate source length
    ``len(B)±k`` shifted by every offset in ``[-k, +k]`` — COMPLETE for
    insertions, deletions and substitutions alike, at
    ``(k+1)·(2k+1)²`` window keys per row (k is 1-2 for title/URL dedup,
    so ≤ 18-75 short keys — still a bounded hash equi-join, never
    all-pairs; the length component of the key doubles as the
    ``|len(A)-len(B)| ≤ k`` filter). Candidates are verified with exact
    ``levenshtein``. Empty segments (strings shorter than k+1) keep
    their empty window keys: such strings are within k edits of any
    equally tiny string, and dropping the empty band would miss them.
    Candidate rule and verify are engine-replayable (DuckDB: substr
    arithmetic + levenshtein); completeness means the net result equals
    the brute-force ``lev ≤ k`` pair set.
    """
    k = max_distance
    n_seg = k + 1
    t = df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"))

    def seg_start(i: int, ln: Column) -> Column:
        return (F.lit(i) * ln / n_seg).cast("int")

    def seg_len(i: int, ln: Column) -> Column:
        return seg_start(i + 1, ln) - seg_start(i, ln)

    ln = F.length(F.col("_t"))
    # segment side: this row's own even split, keyed by its own length
    seg_structs = [
        F.struct(
            F.lit(i).alias("si"),
            ln.alias("la"),
            F.substring(F.col("_t"), seg_start(i, ln) + 1, seg_len(i, ln)).alias("sv"),
        )
        for i in range(n_seg)
    ]
    seg_side = t.select(
        "_id", "_t", F.explode(F.array(*seg_structs)).alias("_s")
    ).select("_id", "_t", "_s.si", "_s.la", "_s.sv")

    # window side: substrings at the segment boundaries of every source
    # length within ±k, shifted by every indel offset within ±k
    win_structs = []
    for i in range(n_seg):
        for delta in range(-k, k + 1):
            la = ln + delta  # candidate source length
            for d in range(-k, k + 1):
                start = seg_start(i, la) + 1 + d
                win_structs.append(
                    F.struct(
                        F.lit(i).alias("si"),
                        la.alias("la"),
                        F.substring(F.col("_t"), start, seg_len(i, la)).alias("sv"),
                        start.alias("_st"),
                        seg_len(i, la).alias("_sl"),
                    )
                )
    wins = F.filter(
        F.array_distinct(F.array(*win_structs)),
        # valid window: source length sane, start in range, window fully
        # inside the string (a true occurrence always is; truncated
        # substrings can never equal a full-length segment anyway)
        lambda w: (w["la"] >= 0)
        & (w["_st"] >= 1)
        & (w["_st"] + w["_sl"] - 1 <= F.length(F.col("_t"))),
    )
    win_side = t.select("_id", "_t", F.explode(wins).alias("_w")).select(
        "_id", "_t", "_w.si", "_w.la", "_w.sv"
    )

    # either role order finds the pair: probe mode canonicalizes + dedupes
    cand = _bucket_pairs(
        win_side, ["si", "la", "sv"], probe=seg_side, carry={"_t": ("_t1", "_t2")}
    )
    return (
        cand.withColumn("distance", F.levenshtein("_t1", "_t2").cast("long"))
        .filter(F.col("distance") <= k)
        .select("id_a", "id_b", "distance")
    )


def incremental_dedup_accept(
    corpus_df: DataFrame,
    new_df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 5,
    threshold: float = 0.8,
    seed: int = 7,
    max_bucket_size: int | None = None,
    priority_col: str | None = None,
) -> DataFrame:
    """Admission control for continuous corpus ingestion: which NEW
    documents enter the corpus. A new doc is rejected when its near-dup
    cluster (over :func:`minhash_lsh_pairs_incremental` pairs) already
    contains a corpus member — the corpus is immutable history and always
    wins — or when another new doc in the same cluster is the designated
    survivor (min id, or highest ``priority_col``).

    Cost scales with the batch (the incremental pair join never re-pairs
    the corpus against itself); the cluster bookkeeping only ever touches
    docs that appear in a pair — a vanishing fraction of the batch.
    Returns the accepted subset of ``new_df``, unshuffled.

    Contract: ``id_col`` must be NUMERIC (``connected_components`` labels
    over long ids) — checked up front so a string-id call fails at plan
    build with a clear message instead of mid-job with CAST_INVALID_INPUT.
    """
    _check_numeric_ids(id_col, (new_df, "new_df"), (corpus_df, "corpus_df"))
    pairs = minhash_lsh_pairs_incremental(
        corpus_df,
        new_df,
        text_col,
        id_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
        threshold=threshold,
        seed=seed,
        max_bucket_size=max_bucket_size,
    )
    return _resolve_admission(pairs, corpus_df, new_df, id_col, priority_col)


def _check_numeric_ids(id_col: str, *frames: tuple[DataFrame, str]) -> None:
    """Admission control labels clusters over long ids — fail at plan
    build on a non-numeric id instead of mid-job with CAST_INVALID_INPUT."""
    _numeric = {"tinyint", "smallint", "int", "bigint", "long", "float", "double"}
    for frame, name in frames:
        dt = dict(frame.dtypes).get(id_col)
        if dt is not None and dt not in _numeric and not dt.startswith("decimal"):
            raise TypeError(
                f"admission control requires a numeric {id_col!r} "
                f"({name} has {dt}): connected_components labels over long ids"
            )


def _resolve_admission(
    pairs: DataFrame,
    corpus_df: DataFrame,
    new_df: DataFrame,
    id_col: str,
    priority_col: str | None,
) -> DataFrame:
    """Shared accept/reject resolution for every incremental dedup flavor
    (MinHash text, embedding/SemDeDup): near-dup pairs → connected
    components → reject a new doc when its cluster contains a corpus
    member (immutable history wins) or another new doc is the designated
    survivor (min id, or highest ``priority_col``). Returns the accepted
    subset of ``new_df``, unshuffled."""
    labels = connected_components(pairs, "id_a", "id_b")
    corpus_ids = corpus_df.select(F.col(id_col).alias("id")).withColumn(
        "_c", F.lit(1)
    )
    mem = labels.join(corpus_ids, "id", "left").withColumn(
        "_c", F.coalesce(F.col("_c"), F.lit(0))
    )
    has_c = mem.groupBy("cluster_id").agg(F.max("_c").alias("_has_c"))
    new_mem = mem.filter(F.col("_c") == 0)
    if priority_col is None:
        winners = new_mem.groupBy("cluster_id").agg(
            F.min("id").alias("_win")
        )
    else:
        pri = new_df.select(
            F.col(id_col).alias("id"), F.col(priority_col).alias("_p")
        )
        winners = (
            # highest priority, then LOWEST id. max_by over (_p, -id):
            # negating the ID (numeric by the contract enforced above)
            # keeps _p un-negated, so ANY orderable priority type works —
            # timestamps and strings included (a min_by over -_p would
            # reject non-numeric priorities at plan build)
            new_mem.join(pri, "id")
            .groupBy("cluster_id")
            .agg(F.expr("max_by(id, struct(_p, -id))").alias("_win"))
        )
    drops = (
        new_mem.join(has_c, "cluster_id")
        .join(winners, "cluster_id")
        .filter((F.col("_has_c") == 1) | (F.col("id") != F.col("_win")))
        .select(F.col("id").alias(id_col))
    )
    return new_df.join(drops, id_col, "left_anti")


def incremental_semdedup_accept(
    corpus_df: DataFrame,
    new_df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: list[list[float]] | None = None,
    n_cells: int = 16,
    threshold: float = 0.95,
    priority_col: str | None = None,
    max_cell_size: int | None = None,
    journal=None,
) -> DataFrame:
    """Embedding-space admission control — the streaming form of
    :func:`semdedup`: which NEW vectors enter the corpus. A new doc is
    rejected when a same-cell corpus member (or an admitted same-batch
    peer that wins the survivor rule) sits within cosine ``threshold``.

    ``centroids`` must be FROZEN training artifacts
    (:func:`ivf_kmeans_centroids`, optionally ``sample_frac``-trained) so
    every batch assigns against the same cell geometry — the same
    frozen-artifact contract as the streaming IVF-PQ index; ``None``
    falls back to the lowest-id-of-``corpus_df`` deterministic variant
    (fine for tests, unstable as the corpus grows — pass real centroids
    in production).

    Scale shape: only cells CONTAINING new arrivals are touched (the
    corpus side is semi-joined on the batch's distinct cell keys before
    any vector moves), and within a touched cell the cost is
    |batch_cell| × |corpus_cell| numpy dot products in one Arrow batch —
    size ``n_cells`` so cells stay bounded, exactly the :func:`semdedup`
    sizing rule. The corpus never self-pairs.

    ``max_cell_size`` valves hot cells (counted over corpus members of
    touched cells PLUS the batch's arrivals — the rows that would meet
    in one task's matrices): an over-cap cell skips pair generation, so
    its new rows ADMIT (fail-open, matching the batch valve), and the
    skipped-cell count journals as ``HotCellsDropped``.
    """
    _check_numeric_ids(id_col, (new_df, "new_df"), (corpus_df, "corpus_df"))
    from kusto_pre_forge_spark.operators.similarity import cell_assign

    if centroids is None:
        # empty corpus: seed cell geometry from the batch itself
        base = corpus_df if corpus_df.head(1) else new_df
        centroids = _lowest_id_centroids(base, id_col, vec_col, n_cells)
    new_a = cell_assign(
        new_df, id_col=id_col, vec_col=vec_col, n_cells=n_cells, centroids=centroids
    ).select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"), "cell")
    if "cell" in corpus_df.columns:
        # the store persisted assignments at accept time (frozen
        # centroids) — the corpus side never re-scores, only the batch
        # assigns; this is what makes per-trigger cost batch-shaped
        corpus_a = corpus_df.select(
            F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"), "cell"
        )
    else:
        corpus_a = cell_assign(
            corpus_df,
            id_col=id_col,
            vec_col=vec_col,
            n_cells=n_cells,
            centroids=centroids,
        ).select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"), "cell")

    touched = new_a.select("cell").distinct()
    corpus_t = corpus_a.join(F.broadcast(touched), "cell")
    union = new_a.withColumn("_new", F.lit(1)).unionByName(
        corpus_t.withColumn("_new", F.lit(0))
    )

    def _admission_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        newm = pdf["_new"].to_numpy() == 1
        if not newm.any():
            return pd.DataFrame({"id_a": [], "id_b": []}).astype(
                {"id_a": "int64", "id_b": "int64"}
            )
        ids = pdf["_id"].to_numpy()
        V = np.array([np.asarray(x, dtype=np.float64) for x in pdf["_v"]])
        V = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
        B, bids = V[newm], ids[newm]
        out_a, out_b = [], []
        C, cids = V[~newm], ids[~newm]
        if len(C):
            cos = B @ C.T
            ia, ib = np.nonzero(cos >= threshold)
            out_a.extend(bids[ia])
            out_b.extend(cids[ib])
        if len(B) > 1:
            cos = B @ B.T
            ia, ib = np.triu_indices(len(B), k=1)
            sel = cos[ia, ib] >= threshold
            out_a.extend(bids[ia[sel]])
            out_b.extend(bids[ib[sel]])
        return pd.DataFrame(
            {"id_a": np.asarray(out_a, "int64"), "id_b": np.asarray(out_b, "int64")}
        )

    union = _apply_hot_bucket_valve(
        union, ["cell"], max_cell_size, journal, counter="HotCellsDropped"
    )
    pairs = union.groupBy("cell").applyInPandas(
        _admission_pairs, "id_a long, id_b long"
    )
    return _resolve_admission(pairs, corpus_df, new_df, id_col, priority_col)


def _lowest_id_centroids(
    df: DataFrame, id_col: str, vec_col: str, n_cells: int
) -> list[list[float]]:
    rows = sorted(
        df.select(id_col, vec_col).orderBy(F.col(id_col).asc()).limit(n_cells).collect(),
        key=lambda r: r[id_col],
    )
    return [[float(x) for x in r[vec_col]] for r in rows]


def hamming_pairs(
    df: DataFrame,
    fp_col: str,
    id_col: str,
    max_hamming: int = 3,
    chunks: int = 4,
    n_bits: int = 64,
    pin_mode: str = "persist",
    max_bucket_size: int | None = None,
    journal=None,
) -> DataFrame:
    """Near-dup pairs over a PRECOMPUTED n-bit fingerprint column — the
    generic pigeonhole-banded sibling of :func:`simhash_pairs` for
    perceptual hashes the caller already has (image dHash, audio energy
    fingerprint, per-frame video hashes).

    ``max_bucket_size`` is the hot-bucket valve: a degenerate
    fingerprint — the all-zero dHash of blank/monochrome images, which
    crawl data is full of — puts k files in one (chunk, value) bucket
    and k²/2 rows into the self-join. Over-cap buckets are anti-joined
    away (those files are byte-near-identical; exact/binary dedup covers
    them) and the dropped-bucket count is journaled when a
    ``PerfJournal`` is passed. ``None`` = exact banding.

    Any pair within Hamming distance ``chunks − 1`` shares at least one
    exact chunk (pigeonhole), so the candidate join is a hash equi-join
    on (chunk_index, chunk_value) — never all-pairs; exact
    ``bit_count(xor)`` verifies. Negative longs (dHash packs into a
    signed 64-bit) are safe: the chunk mask keeps only the low bits, so
    arithmetic sign-extension never reaches a join key. Returns
    (id_a < id_b, distance).
    """
    fp = df.select(F.col(id_col).alias("_id"), F.col(fp_col).cast("long").alias("_fp"))
    return _hamming_pairs(
        fp, n_bits, chunks, max_hamming, pin_mode,
        max_bucket_size, journal, "HammingPairs.HotBucketsDropped", "distance",
    )


def window_hash_frame(
    df: DataFrame, text_col: str, id_col: str, window_tokens: int
) -> DataFrame:
    """(_id, i, h): every ``window_tokens``-token rolling window of each
    document as a 128-bit md5 key over the window's whitespace-
    normalized lowercase tokens — the shared primitive of
    :func:`exact_substring_spans`, :func:`cut_duplicate_spans`, and the
    streaming ExactSubstr admission. Only (doc, position, 16-byte hash)
    rows ever exist — never the window text."""
    k = window_tokens
    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), lambda t: t != ""
    )
    base = df.select(F.col(id_col).alias("_id"), toks.alias("_tk"))
    return base.select(
        "_id",
        F.explode(
            F.when(
                F.size("_tk") >= k,
                F.transform(
                    F.sequence(F.lit(0), F.size("_tk") - k),
                    lambda i: F.struct(
                        i.alias("i"),
                        F.md5(F.array_join(F.slice("_tk", i + 1, k), " ")).alias("h"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<i:int,h:string>>"))
        ).alias("w"),
    ).select("_id", "w.i", "w.h")


def incremental_substr_accept(
    corpus_windows: DataFrame,
    new_df: DataFrame,
    text_col: str,
    id_col: str,
    window_tokens: int = 8,
    max_dup_windows: int = 0,
) -> DataFrame:
    """Admission control at SPAN granularity — the streaming twin the
    ExactSubstr family lacked (minhash/SemDeDup/DSIR/quota/blocklist all
    have one). A new doc is rejected when more than ``max_dup_windows``
    of its k-token window hashes are FOREIGN: already present in the
    accepted corpus's window store (``corpus_windows``: one ``h``
    column; the corpus text is never re-tokenized), or owned by a
    smaller-id doc in the same batch (the designated-survivor
    convention of :func:`incremental_dedup_accept` — the min-id owner
    keeps the window even if it is itself rejected, so chains resolve
    deterministically without iteration; documented approximation, same
    as the batch family's).

    Cost scales with the batch: the only corpus-sized touch is the hash
    equi-probe into the window store (column-pruned 16-byte keys).
    Returns the accepted subset of ``new_df``, unshuffled."""
    wins = window_hash_frame(new_df, text_col, id_col, window_tokens)
    corpus_hits = (
        wins.join(corpus_windows.select("h"), "h", "left_semi")
        .groupBy("_id")
        .agg(F.count(F.lit(1)).alias("_n_corpus"))
    )
    owners = wins.groupBy("h").agg(F.min("_id").alias("_own"))
    batch_fore = (
        wins.join(owners, "h")
        .filter(F.col("_id") > F.col("_own"))
        .groupBy("_id")
        .agg(F.count(F.lit(1)).alias("_n_batch"))
    )
    rejected = (
        corpus_hits.join(batch_fore, "_id", "full_outer")
        .filter(
            F.coalesce(F.col("_n_corpus"), F.lit(0))
            + F.coalesce(F.col("_n_batch"), F.lit(0))
            > max_dup_windows
        )
        .select("_id")
    )
    return new_df.join(
        rejected.withColumnRenamed("_id", id_col), id_col, "left_anti"
    )


def exact_substring_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window_tokens: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document duplicated SPANS — the span-granularity member of
    the dedup family ("Deduplicating Training Data Makes Language Models
    Better", Lee et al., ACL 2022: removing repeated substrings, not
    whole documents, is what fixes memorization). Their suffix-array
    ExactSubstr is replaced by the shuffle-friendly rolling-window
    equivalent: every ``window_tokens``-token window hashes to a 128-bit
    key; a window appearing in ≥ ``min_docs`` DISTINCT documents marks a
    duplicated region, and per document the overlapping windows merge
    into maximal [start, end) token spans (gaps-and-islands over one
    doc-key exchange).

    Plan shape at 100 TB: one explode to ~n_tokens rows carrying ONLY
    (doc, position, 16-byte hash) — never the window text; one map-side-
    combined aggregate for document frequency; a hash semi-join back;
    one window pass per doc for the merge. Window hashing makes a false
    cross-doc match a ~2⁻¹²⁸ event, so no text verify stage is needed
    (the paper's suffix approach is exact; md5 collisions are far below
    data-corruption rates). Returns (id, span_start, span_end,
    n_dup_windows) with token-index spans for the caller's cutter.
    """
    k = window_tokens
    wins = window_hash_frame(df, text_col, id_col, k)
    dup = (
        wins.groupBy("h")
        .agg(F.count_distinct("_id").alias("_df"))
        .filter(F.col("_df") >= min_docs)
        .select("h")
    )
    hits = wins.join(dup, "h", "left_semi")
    w = Window.partitionBy("_id").orderBy("i")
    flagged = hits.withColumn(
        "_new",
        F.when(
            F.lag("i").over(w).isNull() | (F.col("i") > F.lag("i").over(w) + k),
            1,
        ).otherwise(0),
    ).withColumn("_island", F.sum("_new").over(w))
    return (
        flagged.groupBy("_id", "_island")
        .agg(
            F.min("i").alias("span_start"),
            (F.max("i") + k).alias("span_end"),
            F.count(F.lit(1)).alias("n_dup_windows"),
        )
        .select(
            F.col("_id").alias(id_col),
            F.col("span_start").cast("long"),
            F.col("span_end").cast("long"),
            F.col("n_dup_windows").cast("long"),
        )
    )


def cut_duplicate_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window_tokens: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """The cutting half of ExactSubstr dedup (Lee et al., ACL 2022 §4.1
    cut every duplicated substring, keeping ONE copy): windows and
    duplicate detection as in :func:`exact_substring_spans`, plus an
    ownership rule — per duplicated window hash, the LOWEST doc id keeps
    its occurrence; every other doc's matching windows merge into
    maximal spans and the covered tokens are removed from the rebuilt
    text.

    Plan adds one winner aggregate (per-hash min id, map-side combined)
    and a per-doc span array join to the spans pipeline; the rebuild is
    array HOFs over the token list (covered positions materialized as a
    flat int array BEFORE the filter — no nested lambda capture). Output
    text is whitespace-normalized lowercase tokens (the windows' own
    tokenization — cutting operates in token space). Returns (id,
    n_tokens, n_tokens_removed, text_clean).
    """
    k = window_tokens
    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), lambda t: t != ""
    )
    base = df.select(F.col(id_col).alias("_id"), toks.alias("_tk"))
    wins = base.select(
        "_id",
        F.explode(
            F.when(
                F.size("_tk") >= k,
                F.transform(
                    F.sequence(F.lit(0), F.size("_tk") - k),
                    lambda i: F.struct(
                        i.alias("i"),
                        F.md5(F.array_join(F.slice("_tk", i + 1, k), " ")).alias("h"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<i:int,h:string>>"))
        ).alias("w"),
    ).select("_id", "w.i", "w.h")
    owners = (
        wins.groupBy("h")
        .agg(
            F.count_distinct("_id").alias("_df"),
            F.min("_id").alias("_winner"),
        )
        .filter(F.col("_df") >= min_docs)
        .select("h", "_winner")
    )
    cut_wins = wins.join(owners, "h").filter(F.col("_id") != F.col("_winner"))
    w = Window.partitionBy("_id").orderBy("i")
    flagged = cut_wins.withColumn(
        "_new",
        F.when(
            F.lag("i").over(w).isNull() | (F.col("i") > F.lag("i").over(w) + k), 1
        ).otherwise(0),
    ).withColumn("_island", F.sum("_new").over(w))
    spans = (
        flagged.groupBy("_id", "_island")
        .agg(F.min("i").alias("s"), (F.max("i") + k).alias("e"))
        .groupBy("_id")
        .agg(F.collect_list(F.struct("s", "e")).alias("_spans"))
    )
    joined = base.join(spans, "_id", "left").withColumn(
        "_covered",
        F.coalesce(
            F.array_distinct(
                F.flatten(
                    F.transform(
                        F.col("_spans"), lambda sp: F.sequence(sp["s"], sp["e"] - 1)
                    )
                )
            ),
            F.array().cast("array<int>"),
        ),
    )
    kept = F.filter(
        F.col("_tk"), lambda x, i: ~F.array_contains(F.col("_covered"), i.cast("int"))
    )
    return joined.select(
        F.col("_id").alias(id_col),
        F.size("_tk").cast("long").alias("n_tokens"),
        F.size("_covered").cast("long").alias("n_tokens_removed"),
        F.array_join(kept, " ").alias("text_clean"),
    )


def semdedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 16,
    threshold: float = 0.95,
    centroids: list[list[float]] | None = None,
    keep: str = "min_id",
    max_cell_size: int | None = None,
    journal=None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication scoped to k-means cells — cluster the embedding space,
    then within each cell connect pairs with cosine ≥ ``threshold`` and
    keep ONE representative per duplicate group. The cell scoping is what
    makes it tractable: pairwise comparison happens only inside a cell
    (the paper's insight that semantic duplicates share a cluster), so
    the cost is Σ|cell|² instead of n².

    Stages (all existing machinery, composed):

    - :func:`similarity.cell_assign` — one narrow vectorized pass, no
      shuffle; ``centroids=None`` is the deterministic lowest-id variant
      an external SQL oracle replays, :func:`ivf_kmeans_centroids`
      (optionally ``sample_frac``-trained) is the production quality
      path;
    - within-cell pairs — one Arrow batch per cell (``applyInPandas``),
      pairwise cosine accumulated dimension-by-dimension (bit-exact with
      the SQL fold, see :func:`embedding_dup_pairs`);
    - components — a union-find over each cell's pairs in the same task
      (pairs never cross cells);
    - survivor rule: ``min_id`` keeps the smallest id per group (the
      repo-wide convention, oracle-friendly); ``far_from_centroid``
      keeps the member FARTHEST from its cell centroid (the paper's §3
      choice — retains the least prototypical example; tie → min id).

    Returns (id, cell, cluster_id, is_kept) for EVERY input row —
    singletons are their own cluster and always kept. At 100 TB size
    ``n_cells`` so a cell's vectors fit one task (the paper uses 50k
    cells for LAION); the pair stage parallelism equals ``n_cells``.

    ``max_cell_size`` is the hot-cell valve (the :func:`_hot_buckets`
    pattern): embedding spaces skew exactly where dedup matters —
    boilerplate and near-empty docs collapse into ONE cell, and a hot
    cell is an O(|cell|²) dense Gram in a single task. Over-cap cells
    are excluded from the PAIR stage only (their rows stay in the
    output as always-kept singletons — fail-open, identical to the
    banded families' valve) and the dropped-cell count lands in
    ``journal`` under ``HotCellsDropped``.
    """
    if keep not in ("min_id", "far_from_centroid"):
        raise ValueError(f"keep must be min_id|far_from_centroid, got {keep!r}")
    from kusto_pre_forge_spark.operators.similarity import cell_assign

    assigned = cell_assign(
        df, id_col=id_col, vec_col=vec_col, n_cells=n_cells, centroids=centroids
    ).select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        "cell",
        "cell_score",
    )

    def _cell_labels(pdf: pd.DataFrame) -> pd.DataFrame:
        """(id, cluster_id) for every id in this cell that has at least
        one ≥-threshold neighbor; cluster_id = the component's min id.

        Duplicate pairs are generated ONLY within a cell, so every
        connected component is contained in one cell — the component
        labels can be resolved right here with a union-find over the
        cell's pair list instead of shipping pairs through the global
        alternating-star driver loop (which cost ~30 sequential
        scheduler-bound jobs per query at bench scale; guide §2.4/§2.6).
        Components of a graph are a pure integer property — any
        algorithm yields the same min-id labels, so results are
        bit-identical to the former connected_components() route."""
        ids = pdf["_id"].to_numpy()
        n = len(ids)
        empty = pd.DataFrame({"id": [], "cluster_id": []}).astype(
            {"id": "int64", "cluster_id": "int64"}
        )
        if n < 2:
            return empty
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        V = np.array([np.asarray(x, dtype=np.float64) for x in pdf["_v"].iloc[order]])
        # dimension-at-a-time accumulation == the SQL fold's addition order
        G = np.zeros((n, n))
        sq = np.zeros(n)
        for d in range(V.shape[1]):
            col = V[:, d]
            G += col[:, None] * col[None, :]
            sq += col * col
        nrm = np.sqrt(sq)
        cos = G / (nrm[:, None] * nrm[None, :])
        ia, ib = np.triu_indices(n, k=1)
        sel = cos[ia, ib] >= threshold
        ia, ib = ia[sel], ib[sel]
        if len(ia) == 0:
            return empty
        # union-find over local positions (ids is sorted ascending, so
        # the min position in a component is also the min id)
        parent = np.arange(n)

        def find(x: int) -> int:
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for a, b in zip(ia.tolist(), ib.tolist()):
            ra, rb = find(a), find(b)
            if ra != rb:
                if ra < rb:
                    parent[rb] = ra
                else:
                    parent[ra] = rb
        touched = np.unique(np.concatenate([ia, ib]))
        roots = np.array([find(int(x)) for x in touched])
        return pd.DataFrame(
            {"id": ids[touched], "cluster_id": ids[roots]}
        ).astype({"id": "int64", "cluster_id": "int64"})

    if max_cell_size is not None:
        # the valve adds a second consumer of the cell-assignment pass
        # (hot-cell aggregate + anti-join); pin so the vectorized argmax
        # runs once, not once per consumer
        from kusto_pre_forge_spark.pinning import pin

        assigned = pin(assigned)
    pair_input = _apply_hot_bucket_valve(
        assigned, ["cell"], max_cell_size, journal, counter="HotCellsDropped"
    )
    comp = pair_input.groupBy("cell").applyInPandas(
        _cell_labels, "id long, cluster_id long"
    )
    labeled = (
        assigned.join(
            comp.select(
                F.col("id").alias("_id"), F.col("cluster_id").alias("_cl")
            ),
            "_id",
            "left",
        )
        .withColumn("cluster_id", F.coalesce(F.col("_cl"), F.col("_id")))
        .drop("_cl")
    )
    if keep == "min_id":
        is_kept = F.col("_id") == F.col("cluster_id")
        out = labeled.withColumn("is_kept", is_kept)
    else:
        w = Window.partitionBy("cluster_id").orderBy(
            F.col("cell_score").asc(), F.col("_id").asc()
        )
        out = labeled.withColumn(
            "is_kept", F.row_number().over(w) == F.lit(1)
        )
    return out.select(
        F.col("_id").alias(id_col), "cell", "cluster_id", "is_kept"
    )


def hamming_candidate_recall(
    df: DataFrame,
    fp_col: str,
    id_col: str,
    max_hamming: int = 3,
    chunks: int = 4,
    n_bits: int = 64,
) -> DataFrame:
    """Measure, don't guess — the :func:`lsh_candidate_recall` harness
    applied to :func:`hamming_pairs`' pigeonhole banding: candidate
    recall and efficiency of the (chunks) choice against the EXACT
    ≤``max_hamming`` pair set, on the fixture/sample slice it is pointed
    at. With ``chunks > max_hamming`` the pigeonhole guarantees recall
    1.0 (the harness should MEASURE that); with fewer chunks (cheaper
    join, bigger chunks → fewer false candidates) real misses appear —
    the number that justifies the choice before an image-dedup pass.

    The exact side is an all-pairs ``bit_count(xor)`` — quadratic by
    design, honest only on a sample (same contract as the LSH harness's
    exact-Jaccard side). Returns ONE row: (n_exact, n_candidates,
    n_hits, recall, candidate_efficiency); vacuous slices score 1.0.
    """
    fp = pin(
        df.select(
            F.col(id_col).alias("_id"), F.col(fp_col).cast("long").alias("_fp")
        )
    )
    l, r = fp.alias("l"), fp.alias("r")
    pairs = l.join(r, F.col("l._id") < F.col("r._id")).select(
        F.col("l._id").alias("id_a"),
        F.col("r._id").alias("id_b"),
        F.bit_count(
            F.col("l._fp").bitwiseXOR(F.col("r._fp"))
        ).alias("distance"),
        F.col("l._fp").alias("fa"),
        F.col("r._fp").alias("fb"),
    )
    share = None
    for shift, mask in _chunk_layout(n_bits, chunks):
        eq = (
            F.shiftright(F.col("fa"), shift).bitwiseAND(mask)
            == F.shiftright(F.col("fb"), shift).bitwiseAND(mask)
        )
        share = eq if share is None else (share | eq)
    pairs = pin(pairs.withColumn("_cand", share))
    return _recall_row(
        pairs.agg(
            F.count(F.when(F.col("distance") <= max_hamming, 1)).alias("n_exact"),
            F.count(F.when(F.col("_cand"), 1)).alias("n_candidates"),
            F.count(
                F.when(F.col("_cand") & (F.col("distance") <= max_hamming), 1)
            ).alias("n_hits"),
        )
    )


_RECALL_COUNTS = ("n_exact", "n_candidates", "n_hits")


def _recall_row(counts: DataFrame) -> DataFrame:
    """The shared tail of both recall harnesses: a one-row frame of the
    long ``(n_exact, n_candidates, n_hits)`` counts gains ``recall`` =
    hits/exact (banding's miss rate) and ``candidate_efficiency`` =
    hits/candidates (how much of the candidate join is wasted verify
    work). Vacuous slices (no exact pair / no candidate) score 1.0:
    nothing was missed / no verify work was wasted."""

    def ratio(den: str) -> Column:
        return F.when(F.col(den) == 0, F.lit(1.0)).otherwise(
            F.round(F.col("n_hits") / F.col(den).cast("double"), 6)
        )

    return counts.select(
        *_RECALL_COUNTS,
        ratio("n_exact").alias("recall"),
        ratio("n_candidates").alias("candidate_efficiency"),
    )


def lsh_candidate_recall(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 5,
    threshold: float = 0.8,
    seed: int = 7,
) -> DataFrame:
    """Measure, don't guess: candidate recall of MinHash banding against
    the EXACT ≥threshold Jaccard pair set — the number that justifies a
    (num_hashes, bands) choice before a 100 TB run. Theory says a true
    pair at similarity j survives banding with 1−(1−j^r)^b (r =
    hashes/band); this harness measures it on the actual corpus, where
    shingle correlation and short docs bend the curve.

    Returns ONE row: (n_exact, n_candidates, n_hits, recall,
    candidate_efficiency) — recall = hits/exact (banding's miss rate),
    efficiency = hits/candidates (how much of the candidate join is
    wasted verify work). Exact pairs come from the inverted-index
    :func:`ngram_jaccard_pairs`; candidates are the banding self-join
    WITHOUT the verify stage. All aggregates are counts over pair frames
    — the harness costs one exact pass + one banding pass on the slice
    it is pointed at (run it on a sample at production scale).
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    exact = ngram_jaccard_pairs(
        df, text_col, id_col, shingle_n=shingle_n, threshold=threshold
    ).select("id_a", "id_b")
    base = _mh_signatures(df, text_col, id_col, num_hashes, shingle_n, seed)
    # both self-join sides read the band keys; unpinned, the shingle +
    # 64-hash signature pipeline would run once PER SIDE
    banded = pin(_mh_band_keys(base, bands, num_hashes // bands))
    cand = _bucket_pairs(banded, ["band", "key"])
    hits = exact.join(cand, ["id_a", "id_b"], "left_semi")
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    n_cand = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    n_hit = hits.agg(F.count(F.lit(1)).alias("n_hits"))
    counts = n_exact.crossJoin(F.broadcast(n_cand)).crossJoin(F.broadcast(n_hit))
    return _recall_row(
        counts.select(*(F.col(c).cast("long").alias(c) for c in _RECALL_COUNTS))
    )
