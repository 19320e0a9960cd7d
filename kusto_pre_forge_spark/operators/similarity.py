"""Similarity search over an embedding column (``array<float>``).

BASELINE.json north-star extension (the reference has no vector surface).
Two tiers:

- ``cosine_topk``          — exact brute-force top-k: broadcast the query
                             set, one pass over the corpus, per-task heaps
                             via TakeOrdered/window. The correctness
                             baseline and perfectly adequate when
                             |queries| × dim is broadcastable.
- ``cosine_topk_lsh``      — random-hyperplane LSH (sign-pattern buckets,
                             multi-probe by Hamming-adjacent buckets): the
                             scale path — candidate set shrinks ~2^bits,
                             recall traded explicitly.
- ``cosine_topk_ivf``      — IVF-flat: assign every vector to its nearest
                             of ``n_cells`` coarse centroids (inverted
                             lists), probe the query's top ``nprobe``
                             cells, exact-score within. Deterministic
                             centroid choice (lowest-id corpus vectors) so
                             an external SQL engine can replay the exact
                             partitioning — swap in k-means centroids for
                             production recall.

All vector math is native (``F.zip_with`` + ``F.aggregate`` fold, i.e.
JVM-side) — no pandas UDF in the scoring loop.
"""

from __future__ import annotations

import math
import random

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kusto_pre_forge_spark.operators.iterate import iterate


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ as a left-to-right fold (deterministic order, double math)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Plan: broadcast(queries) × corpus → score → rank per query. The join is
    a BroadcastNestedLoopJoin by construction (no equi-key), which is the
    right physical plan: every corpus partition scores all queries in one
    pass. Self-matches (same id) are excluded. Ties break on neighbor id
    (ascending) for determinism.

    Returns (query_id, neighbor_id, cosine, rank), rank in 1..k.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("_qv"), F.col("_cv")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    min_cosine: float | None = None,
) -> DataFrame:
    """Hard-negative mining for contrastive training (the DPR recipe,
    Karpukhin et al. 2020 §4.2: the best negatives are the most-similar
    wrong-label examples): for each query vector, the ``k``
    highest-cosine corpus vectors whose ``label_col`` DIFFERS from the
    query's. ``min_cosine`` optionally floors the mined negatives (very
    dissimilar vectors are easy negatives — not worth emitting).

    Plan: identical posture to :func:`cosine_topk` — broadcast(queries)
    × corpus BroadcastNestedLoopJoin with the label-mismatch predicate
    fused into the join filter, so wrong-label pruning happens before
    scoring ranks. Per-query rank window partitions on query_id (never
    SinglePartition). For corpora past brute-force reach, over-fetch
    :func:`pq_topk_ivf` and filter labels instead.

    Returns (query_id, query_label, neighbor_id, neighbor_label,
    cosine, rank), rank in 1..k.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("query_label"),
        F.col(vec_col).alias("_qv"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("neighbor_label"),
        F.col(vec_col).alias("_cv"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(
            (F.col("neighbor_id") != F.col("query_id"))
            & (F.col("neighbor_label") != F.col("query_label"))
        )
        .select(
            "query_id",
            "query_label",
            "neighbor_id",
            "neighbor_label",
            cosine(F.col("_qv"), F.col("_cv")).alias("cosine"),
        )
    )
    if min_cosine is not None:
        scored = scored.filter(F.col("cosine") >= float(min_cosine))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def knn_classify(
    labeled: DataFrame,
    unlabeled: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    broadcast_pool: bool = True,
    max_pool: int = 500_000,
) -> DataFrame:
    """k-NN label propagation: predict each unlabeled vector's label by
    majority vote over its ``k`` highest-cosine labeled neighbors (ties →
    smallest label, then the better summed cosine is NOT consulted — the
    deterministic convention oracles can replay). The pseudo-labeling /
    weak-supervision primitive for corpus curation (label a seed set,
    propagate to the pool).

    Plan (default ``broadcast_pool=True``, the classify posture): the
    UNLABELED pool is the small side — it broadcasts, the labeled corpus
    scans once, and a per-query rank window + two map-side-combined
    aggregates pick the vote. Right when the pool is a handful of new
    arrivals and the labeled corpus is the big side.

    .. note:: **Migration (round 9).** The default was
       ``broadcast_pool=False`` (seed-broadcast, map-only pool scan)
       from the operator's landing through round 8; round 9 split the
       two postures and flipped the default to ``True`` so the function
       name matches its plan (classify = small query pool). Callers who
       relied on the old default with a LARGE unlabeled pool must now
       pass ``broadcast_pool=False`` explicitly (it delegates to
       :func:`knn_propagate`). To keep the flip from silently OOMing
       such callers, ``max_pool`` guards the broadcast side: a pool
       larger than ``max_pool`` rows raises ValueError naming the
       ``broadcast_pool=False`` escape hatch instead of blowing the
       broadcast limit at scale. The guard costs one bounded
       ``limit(max_pool+1).count()`` job.

    ``broadcast_pool=False`` delegates to :func:`knn_propagate` — the
    mirror-image posture where a SMALL labeled seed set broadcasts (as
    one collect_list row) and a 100 TB pool scans map-only. That path
    guards seed-set size; see its docstring. Both paths use
    type-agnostic tie-breaks (labels may be strings — weak supervision's
    common case) and return identical results.

    Returns (query_id, predicted_label, votes, top_cosine).
    """
    if not broadcast_pool:
        return knn_propagate(
            labeled,
            unlabeled,
            k=k,
            id_col=id_col,
            vec_col=vec_col,
            label_col=label_col,
        )
    n_pool = unlabeled.limit(max_pool + 1).count()
    if n_pool > max_pool:
        raise ValueError(
            f"knn_classify: unlabeled pool exceeds max_pool={max_pool} — "
            "the classify posture broadcasts the ENTIRE pool; for a large "
            "pool pass broadcast_pool=False (seed-broadcast knn_propagate, "
            "map-only pool scan) or raise max_pool explicitly."
        )
    q = unlabeled.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    c = labeled.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("neighbor_label"),
        F.col(vec_col).alias("_cv"),
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        "neighbor_label",
        cosine(F.col("_qv"), F.col("_cv")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    topk = scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
    votes = topk.groupBy("query_id", "neighbor_label").agg(
        F.count(F.lit(1)).alias("votes"), F.max("cosine").alias("_best")
    )
    # min_by on (-votes, label): max votes first, then SMALLEST label,
    # without negating the label itself (strings must stay legal).
    return votes.groupBy("query_id").agg(
        F.expr(
            "min_by(neighbor_label, struct(-votes, neighbor_label))"
        ).alias("predicted_label"),
        F.max("votes").alias("votes"),
        F.max("_best").alias("top_cosine"),
    )



def knn_propagate(
    labeled: DataFrame,
    unlabeled: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    max_seeds: int = 500_000,
) -> DataFrame:
    """Seed-broadcast k-NN propagation: the map-only mirror image of
    :func:`knn_classify` for the pseudo-labeling posture — a SMALL
    labeled seed set, a 100 TB unlabeled pool.

    Plan: the seeds collapse to ONE array column (collect_list of
    (id, label, vec, norm) structs) and broadcast; the pool scans
    exactly once in a MAP-ONLY stage — per pool row, score every seed
    with a ``transform`` lambda, ``array_sort`` (cosine desc, id asc),
    ``slice`` k, majority-vote inside array expressions. Zero shuffle,
    zero window, nothing per-pool-row ever leaves its input partition.

    ``max_seeds`` guards the collect_list row: the whole seed set
    becomes a single broadcast row (~(dim×4 + 32) bytes per seed — at
    768-dim floats, 500k seeds ≈ 1.5 GB, the practical single-row /
    broadcast ceiling), so a labeled side past the guard raises
    ValueError instead of OOMing an executor at scale. The guard costs
    one bounded ``limit(max_seeds+1).count()`` job. For larger seed
    sets shrink candidates with :func:`pq_topk_ivf` first, or flip the
    posture with :func:`knn_classify` if the POOL is the small side.

    Returns (query_id, predicted_label, votes, top_cosine) — identical
    values to :func:`knn_classify` on the same input.
    """
    n_seeds = labeled.limit(max_seeds + 1).count()
    if n_seeds > max_seeds:
        raise ValueError(
            f"knn_propagate: labeled seed set exceeds max_seeds="
            f"{max_seeds} — the seeds path broadcasts ALL seeds as one "
            "row and would OOM; pre-shrink candidates (pq_topk_ivf) or "
            "use knn_classify(broadcast_pool=True) if the pool is the "
            "small side, or raise max_seeds explicitly."
        )

    seeds = labeled.agg(
        F.collect_list(
            F.struct(
                F.col(id_col).alias("nid"),
                F.col(label_col).alias("lbl"),
                F.col(vec_col).alias("v"),
                norm(F.col(vec_col)).alias("nrm"),
            )
        ).alias("_seeds")
    )
    pool = unlabeled.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        norm(F.col(vec_col)).alias("_qn"),
    )

    def by_cosine(l, r):  # cosine desc, neighbor id asc
        return (
            F.when(l["cosine"] > r["cosine"], F.lit(-1))
            .when(l["cosine"] < r["cosine"], F.lit(1))
            .when(l["nid"] < r["nid"], F.lit(-1))
            .when(l["nid"] > r["nid"], F.lit(1))
            .otherwise(F.lit(0))
        )

    def by_votes(l, r):  # votes desc, label asc — works for ANY orderable label
        return (
            F.when(l["votes"] > r["votes"], F.lit(-1))
            .when(l["votes"] < r["votes"], F.lit(1))
            .when(l["lbl"] < r["lbl"], F.lit(-1))
            .when(l["lbl"] > r["lbl"], F.lit(1))
            .otherwise(F.lit(0))
        )

    scored = F.transform(
        F.col("_seeds"),
        lambda s: F.struct(
            (dot(F.col("_qv"), s["v"]) / (F.col("_qn") * s["nrm"])).alias(
                "cosine"
            ),
            s["nid"].alias("nid"),
            s["lbl"].alias("lbl"),
        ),
    )
    out = (
        pool.crossJoin(F.broadcast(seeds))
        .withColumn("_topk", F.slice(F.array_sort(scored, by_cosine), 1, k))
        .withColumn("_labels", F.transform(F.col("_topk"), lambda t: t["lbl"]))
        .withColumn(
            "_winner",
            F.element_at(
                F.array_sort(
                    F.transform(
                        F.array_distinct(F.col("_labels")),
                        lambda l: F.struct(
                            F.size(
                                F.filter(F.col("_labels"), lambda x: x == l)
                            ).alias("votes"),
                            l.alias("lbl"),
                        ),
                    ),
                    by_votes,
                ),
                1,
            ),
        )
    )
    return out.select(
        "query_id",
        F.col("_winner")["lbl"].alias("predicted_label"),
        F.col("_winner")["votes"].cast("long").alias("votes"),
        F.element_at(F.col("_topk"), 1)["cosine"].alias("top_cosine"),
    )


def _hyperplanes(dim: int, bits: int, seed: int) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(bits)]


def hyperplane_bucket(vec: Column, bits: int, seed: int, dim: int = 64) -> Column:
    """Sign-pattern bucket id: bit j = sign(vec · hⱼ) for seeded Gaussian
    hyperplanes. Deterministic given (seed, dim, bits)."""
    planes = _hyperplanes(dim, bits, seed)
    acc = F.lit(0).cast("long")
    for j, plane in enumerate(planes):
        h = F.array(*[F.lit(x) for x in plane])
        acc = acc + F.when(dot(vec, h) >= 0, 1 << j).otherwise(0)
    return acc


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
    probe_hamming: int = 1,
    seed: int = 11,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: score only candidates whose hyperplane bucket is
    within ``probe_hamming`` bits of the query's bucket (multi-probe LSH).

    The bucket equi-join replaces the nested-loop scan: corpus hashes once,
    queries explode to (1 + bits·probe) probe buckets, and the join is a
    plain shuffled/broadcast hash join on bucket id. Recall < 1 by design;
    measure against ``cosine_topk`` (tests do).
    """
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        hyperplane_bucket(F.col(vec_col), bits, seed, dim).alias("_bkt"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        hyperplane_bucket(F.col(vec_col), bits, seed, dim).alias("_qbkt"),
    )
    # probe set: own bucket + every bucket within Hamming distance probe_hamming
    masks = [0]
    if probe_hamming >= 1:
        masks += [1 << j for j in range(bits)]
    if probe_hamming >= 2:
        masks += [(1 << i) | (1 << j) for i in range(bits) for j in range(i + 1, bits)]
    probes = [F.col("_qbkt").bitwiseXOR(F.lit(m)) for m in masks]
    q = q.withColumn("_probe", F.explode(F.array(*probes)))

    scored = (
        c.join(F.broadcast(q), c["_bkt"] == q["_probe"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("_qv"), F.col("_cv")).alias("cosine"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _train_sample(
    corpus: DataFrame, id_col: str, sample_frac: float | None, salt: str
) -> DataFrame:
    """Deterministic md5-threshold training sample — the FAISS-style
    train-on-a-slice path (codebook/centroid statistics concentrate fast;
    training never needs the full 100 TB corpus). No RNG: the same rows
    are picked on any cluster layout or engine."""
    if sample_frac is None:
        return corpus
    if not 0.0 < sample_frac <= 1.0:
        raise ValueError(f"sample_frac must be in (0, 1], got {sample_frac}")
    from kusto_pre_forge_spark.operators.corpus import _hash_unit

    unit = _hash_unit(F.col(id_col).cast("string"), salt)
    return corpus.filter(unit < F.lit(float(sample_frac)))


def _unit_rows(pdf: pd.DataFrame) -> np.ndarray | None:
    """One Arrow batch of ``_v`` as L2-normalized float64 rows (``None``
    for an empty batch) — the ``load`` step of the k-means trainers."""
    V = np.array([np.asarray(v, dtype=np.float64) for v in pdf["_v"]])
    if V.size == 0:
        return None
    return V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)


def _accumulate(sums: dict, counts: dict, key, v: np.ndarray, n: int) -> None:
    if key in sums:
        sums[key] += v
        counts[key] += n
    else:
        sums[key] = v.copy()
        counts[key] = int(n)


def _merge_partials(partials) -> tuple[dict, dict]:
    """Sum per-task (sums, counts) partials key by key, in the given
    (partition-id) order."""
    sums: dict = {}
    counts: dict = {}
    for ps, pc in partials:
        for key, v in ps.items():
            _accumulate(sums, counts, key, v, pc[key])
    return sums, counts


def ivf_kmeans_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    n_iters: int = 5,
    seed: int = 13,
    sample_frac: float | None = None,
) -> list[list[float]]:
    """Seeded fixed-iteration spherical k-means — the production centroid
    story for :func:`cosine_topk_ivf` (lowest-id centroids are a
    determinism device for oracles, not a recall story).

    Spherical variant because the index metric is cosine: vectors are
    L2-normalized, assignment is argmax dot, the cell update is the mean
    of assigned unit vectors re-normalized. Iterations run through
    :func:`~kusto_pre_forge_spark.operators.iterate.iterate`:

    - partial — each task assigns its vectors and keeps only its
      per-cell (count, Σ unit-vector) — ≤ n_cells × dim doubles per
      task, no shuffle stage at all (an earlier ``applyInPandas``
      combine cost a full second Python exchange per iteration);
    - fold — the partials sum in partition-id order (tasks × n_cells ×
      dim doubles — MBs at 1000 tasks, never corpus-sized), then every
      non-empty cell takes its mean and re-normalizes.

    Determinism: seeds are the ``n_cells`` corpus rows with the smallest
    md5(seed ‖ id); iterations are a fixed count (no convergence test →
    no data-dependent control flow); batch-order partials and the
    partition-id-ordered fold fix the FP accumulation order (parquet
    partitioning is deterministic). Empty cells keep their previous
    centroid.

    ``sample_frac`` trains on a deterministic md5-threshold slice (the
    FAISS convention — centroids need statistics, not the full corpus;
    at 100 TB this is the difference between n_iters corpus scans and
    n_iters sample scans). Assignment/search still covers every vector.
    """
    corpus = _train_sample(corpus, id_col, sample_frac, "kpf-ivf")
    seeds = (
        corpus.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .withColumn(
            "_h", F.md5(F.concat_ws("|", F.lit(str(seed)), F.col("_id").cast("string")))
        )
        .orderBy("_h", "_id")
        .limit(n_cells)
        .collect()
    )
    C = np.array(
        [np.asarray(r["_v"], dtype=np.float64) for r in seeds]
    )  # (cells, dim)
    C /= np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)

    def partial(batches, C):
        sums: dict[int, np.ndarray] = {}
        counts: dict[int, int] = {}
        for V in batches:
            cells = np.argmax(V @ C.T, axis=1)
            for j in np.unique(cells):
                sel = V[cells == j]
                _accumulate(sums, counts, int(j), sel.sum(axis=0), sel.shape[0])
        return sums, counts

    def fold(partials, C):
        sums, counts = _merge_partials(partials)
        C = C.copy()
        for j, v in sums.items():
            C[j] = v / counts[j]
        return C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)

    vecs = corpus.select(F.col(vec_col).alias("_v"))
    return iterate(vecs, C, n_iters, _unit_rows, partial, fold).tolist()


def _prep_centroids(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int,
    centroids: list[list[float]] | None,
):
    """(C, CN) centroid matrix + norms. ``centroids=None`` keeps the
    deterministic lowest-id-row centroids an external SQL oracle can
    replay; otherwise pass :func:`ivf_kmeans_centroids` output."""
    if centroids is None:
        cent_rows = sorted(
            corpus.select(id_col, vec_col)
            .orderBy(F.col(id_col).asc())
            .limit(n_cells)
            .collect(),
            key=lambda r: r[id_col],
        )
        cent_vecs = [[float(x) for x in r[vec_col]] for r in cent_rows]
    else:
        cent_vecs = [[float(x) for x in v] for v in centroids[:n_cells]]
    norms = []
    for vec in cent_vecs:
        acc = 0.0
        for x in vec:
            acc += x * x
        norms.append(math.sqrt(acc))
    C = np.array(cent_vecs, dtype=np.float64)  # (cells, dim)
    CN = np.array(norms, dtype=np.float64)  # (cells,)
    return C, CN


def _centroid_scores_udf(C, CN):
    """Scaled centroid scores as one vectorized pandas_udf: the
    interpreted HOF dot costs ~n_cells× a single cosine, which made
    assignment pricier than the brute-force scan it replaces at small
    scale. The numpy form accumulates dimension-by-dimension (a Python
    loop over dims, each step a fused batch op) — the SAME left-to-right
    IEEE addition order as the ``F.aggregate`` fold, so cell choices and
    the SQL oracle stay bit-exact."""

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def _scores_udf(vs: pd.Series) -> pd.Series:
        V = np.array([np.asarray(v, dtype=np.float64) for v in vs])  # (n, dim)
        acc = np.zeros((V.shape[0], C.shape[0]))
        for dim in range(C.shape[1]):
            acc += V[:, dim, None] * C[None, :, dim]
        acc /= CN[None, :]
        return pd.Series(list(acc))

    return _scores_udf


def cell_assign(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """(id, cell, cell_score, vec) — argmax-cosine cell per vector, the
    IVF index-build pass exposed as its own operator (``semdedup`` and
    index maintenance share it with :func:`cosine_topk_ivf`). One narrow
    vectorized pass, no shuffle; ties break toward the lower cell index
    (``array_position`` finds the FIRST max), matching the SQL oracle's
    ``ORDER BY s DESC, cid ASC``. ``cell_score`` is dot(v, c)/|c| — the
    argmax-equivalent scaled score (|v| constant per row)."""
    C, CN = _prep_centroids(corpus, id_col, vec_col, n_cells, centroids)
    _scores_udf = _centroid_scores_udf(C, CN)
    return (
        corpus.select(
            F.col(id_col),
            F.col(vec_col),
            _scores_udf(F.col(vec_col)).alias("_s"),
        )
        .withColumn(
            "cell",
            (F.array_position(F.col("_s"), F.array_max("_s")) - 1).cast("int"),
        )
        .withColumn("cell_score", F.array_max("_s"))
        .drop("_s")
    )


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    nprobe: int = 4,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Approximate top-k via IVF-flat (inverted-file) partitioning.

    Index build = one narrow pass: score every vector against the
    ``n_cells`` centroids (a driver-side constant — centroids are the
    corpus rows with the ``n_cells`` smallest ids, deterministic and tiny)
    and keep the argmax cell. Queries explode to their top-``nprobe``
    cells; a plain equi-join on cell id replaces the nested-loop scan, so
    the scored candidate set shrinks ~``nprobe / n_cells``.

    Scale: the centroid table is O(n_cells × dim) and rides the closure;
    the corpus pass is embarrassingly parallel; the join shuffles on an
    int key with bounded per-cell lists. ``nprobe = n_cells`` degenerates
    to exact search (tests pin this). Ties (exact-duplicate vectors) break
    toward the lower centroid index / neighbor id, matching the SQL
    oracle's ``ORDER BY s DESC, cid ASC``.

    Returns (query_id, neighbor_id, cosine, rank), rank in 1..k.

    ``centroids``: pass :func:`ivf_kmeans_centroids` output for trained
    cells (the recall path). Default ``None`` keeps the deterministic
    lowest-id-row centroids an external SQL oracle can replay.
    """
    C, CN = _prep_centroids(corpus, id_col, vec_col, n_cells, centroids)
    n_cents = C.shape[0]
    _scores_udf = _centroid_scores_udf(C, CN)

    c = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("_cv"),
            _scores_udf(F.col(vec_col)).alias("_s"),
        )
        .withColumn(
            "_cell",
            (F.array_position(F.col("_s"), F.array_max("_s")) - 1).cast("int"),
        )
        .drop("_s")
    )

    # top-nprobe probe cells per query: sort (score, -index) structs desc —
    # lexicographic struct order gives score desc then index asc on ties
    def probe_structs(scores: Column) -> Column:
        return F.sort_array(
            F.array(
                *[
                    F.struct(
                        F.element_at(scores, j + 1).alias("s"),
                        F.lit(-j).alias("nj"),
                    )
                    for j in range(n_cents)
                ]
            ),
            asc=False,
        )

    q = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("_qv"),
            _scores_udf(F.col(vec_col)).alias("_s"),
        )
        .withColumn("_probe", F.explode(F.slice(probe_structs(F.col("_s")), 1, nprobe)))
        .select("query_id", "_qv", (-F.col("_probe.nj")).cast("int").alias("_cell"))
    )

    scored = (
        c.join(F.broadcast(q), "_cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("_qv"), F.col("_cv")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# ---------------------------------------------------------------------------
# Embedding whitening (PCA): distributed moments, bounded driver eigensolve
# ---------------------------------------------------------------------------


def embedding_whiten(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    eps: float = 1e-6,
    out_col: str = "whitened",
) -> DataFrame:
    """PCA-whiten an embedding column: x → Λ^(−1/2) Vᵀ (x − μ), making the
    output covariance ≈ I. The standard retrieval-quality transform
    (whitening / de-correlation before cosine — cf. "Whitening Sentence
    Representations", su et al.) expressed Spark-first:

    1. per-PARTITION moment matrices via ``mapInPandas`` — each task emits
       ONE flattened (count, Σx, ΣxxT) row computed as a vectorized numpy
       Gram product, so the shuffle carries partitions×(dim²+dim+1)
       values, never the data;
    2. one tiny aggregate sums those rows (columnar ``F.sum`` over the
       flattened arrays via ``posexplode`` — bounded by dim², runs
       anywhere);
    3. the dim×dim eigensolve happens ONCE driver-side (numpy ``eigh`` on
       a symmetric matrix — O(dim³) on ≤ a few thousand dims is
       microseconds) and ships back as a broadcast literal;
    4. projection is one more vectorized ``mapInPandas`` pass.

    Nothing driver-sized ever moves except the dim×dim matrix — the same
    bounded-traffic contract as the IVF k-means trainer.
    """
    import numpy as np

    def moments(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            X = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            yield pd.DataFrame(
                {
                    "n": [float(len(X))],
                    "s": [X.sum(axis=0).tolist()],
                    "g": [(X.T @ X).ravel().tolist()],
                }
            )

    part = df.select(vec_col).mapInPandas(
        moments, "n double, s array<double>, g array<double>"
    )
    # sum the per-partition rows columnar-wise: explode position-wise and
    # re-aggregate (rows are O(num_partitions) — trivially small)
    totals = part.select(
        "n", F.posexplode(F.concat(F.col("s"), F.col("g"))).alias("i", "v")
    ).groupBy("i").agg(F.sum("v").alias("v"), F.sum(F.when(F.col("i") == 0, F.col("n"))).alias("_n"))
    rows = totals.collect()
    if not rows:
        raise ValueError("embedding_whiten: empty input")
    n_total = sum(r["_n"] for r in rows if r["_n"] is not None)
    flat = [0.0] * len(rows)
    for r in rows:
        flat[r["i"]] = r["v"]
    # infer dim from quadratic: len = dim + dim^2
    dim = int((-1 + (1 + 4 * len(flat)) ** 0.5) / 2)
    s = np.array(flat[:dim])
    G = np.array(flat[dim:]).reshape(dim, dim)
    mu = s / n_total
    cov = G / n_total - np.outer(mu, mu)
    w, V = np.linalg.eigh(cov)
    W = V @ np.diag(1.0 / np.sqrt(np.maximum(w, eps))) @ V.T  # ZCA form
    W_list = W.tolist()
    mu_list = mu.tolist()

    def project(it):
        Wm = np.array(W_list)
        mv = np.array(mu_list)
        for pdf in it:
            if len(pdf) == 0:
                continue
            X = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            Y = (X - mv) @ Wm.T
            out = pdf[[id_col]].copy()
            out[out_col] = [y.tolist() for y in Y]
            yield out

    return df.select(id_col, vec_col).mapInPandas(
        project, f"{id_col} long, {out_col} array<double>"
    )


def whiten_covariance_probe(
    df: DataFrame,
    vec_col: str = "whitened",
    round_to: int = 6,
) -> DataFrame:
    """Population-covariance probe over a vector column, emitted as
    (i, j, cov_ij, n_vectors) rows — the driver-checkable INVARIANT of
    :func:`embedding_whiten`: cov(whitened) == I, so the oracle predicts
    the identity matrix without replaying the eigensolve (the pattern of
    the geo/ipv6 "predictive oracles").

    Distributed shape: each row contributes one concatenated array
    [1, x, vec(x xᵀ)] (count slot, first moment, flattened Gram — built
    with array HOFs, no UDF), one posexplode + groupBy(pos) sums them
    columnar-wise, and the dim+dim²-row result is reshaped to (i, j)
    entries by joining the Gram slots to the two mean slots. The shuffle
    carries dim²-sized aggregates, never vectors — the same
    bounded-traffic contract as the whitening trainer itself.

    ``round_to`` collapses float eigensolve noise (~1e-12) to exact
    0/1; adding 0.0 normalizes IEEE −0.0 from tiny negatives.
    """
    w = F.col(vec_col)
    arr = F.concat(
        F.array(F.lit(1.0)),
        w,
        F.flatten(F.transform(w, lambda x: F.transform(w, lambda y: x * y))),
    )
    sums = (
        df.select(F.posexplode(arr).alias("pos", "v"))
        .groupBy("pos")
        .agg(F.sum("v").alias("v"))
    )
    # pos layout: 0 -> n; 1..dim -> sums; dim+1.. -> flattened Gram.
    # max(pos) = dim + dim**2, so dim recovers as (-1+sqrt(1+4*mx))/2.
    meta = sums.agg(
        F.max("pos").alias("mx"),
        F.sum(F.when(F.col("pos") == 0, F.col("v"))).alias("n"),
    ).select(
        F.floor((F.sqrt(1.0 + 4.0 * F.col("mx")) - 1.0) / 2.0)
        .cast("long")
        .alias("dim"),
        F.col("n"),
    )
    g = (
        sums.crossJoin(F.broadcast(meta))
        .filter(F.col("pos") > F.col("dim"))
        .select(
            ((F.col("pos") - F.col("dim") - 1) / F.col("dim"))
            .cast("long")
            .alias("i"),
            ((F.col("pos") - F.col("dim") - 1) % F.col("dim")).alias("j"),
            (F.col("v") / F.col("n")).alias("exy"),
            F.col("n"),
        )
    )
    means = (
        sums.crossJoin(F.broadcast(meta))
        .filter((F.col("pos") >= 1) & (F.col("pos") <= F.col("dim")))
        .select(
            (F.col("pos") - 1).alias("k"), (F.col("v") / F.col("n")).alias("m")
        )
    )
    mi = means.select(F.col("k").alias("i"), F.col("m").alias("m_i"))
    mj = means.select(F.col("k").alias("j"), F.col("m").alias("m_j"))
    return (
        g.join(F.broadcast(mi), "i")
        .join(F.broadcast(mj), "j")
        .select(
            "i",
            "j",
            (
                F.round(F.col("exy") - F.col("m_i") * F.col("m_j"), round_to)
                + F.lit(0.0)
            ).alias("cov_ij"),
            F.col("n").cast("long").alias("n_vectors"),
        )
    )


def embedding_quantize_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Symmetric per-vector int8 quantization — the standard 4× memory
    compression before ANN serving: scale = max|xᵢ| / 127, qᵢ =
    round(xᵢ/scale) ∈ [−127, 127], reconstruction x̂ᵢ = qᵢ·scale.

    Pure array-HOF codegen (no UDF, no shuffle — a scan projection), so
    it composes under any downstream op and the DuckDB oracle replays
    the arithmetic exactly. Emits (id, q array<int>, scale, mse) where
    mse is the per-vector reconstruction error — the quality probe a
    100 TB quantization job reports per shard. All-zero vectors get
    scale 0 and q = zeros (mse 0).
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    maxabs = F.array_max(F.transform(v, F.abs))
    scale = maxabs / F.lit(127.0)
    q = F.transform(
        v,
        lambda x: F.when(scale > 0.0, F.round(x / scale).cast("int"))
        .otherwise(F.lit(0)),
    )
    err = F.zip_with(
        v, q, lambda x, qq: (x - qq.cast("double") * scale) ** F.lit(2.0)
    )
    mse = F.aggregate(err, F.lit(0.0), lambda a, x: a + x) / F.size(v).cast(
        "double"
    )
    return df.select(
        F.col(id_col),
        q.alias("q"),
        scale.alias("scale"),
        mse.alias("mse"),
    )


# ---------------------------------------------------------------------------
# Product quantization (Jégou, Douze & Schmid, TPAMI 2011): the memory-scale
# ANN tier — vectors compress to m sub-codes (m bytes at ks<=256), scoring
# becomes m table lookups per candidate instead of a dim-float dot product.
# ---------------------------------------------------------------------------


def pq_train_codebooks(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    ks: int = 16,
    n_iters: int = 5,
    seed: int = 29,
    sample_frac: float | None = None,
) -> list[list[list[float]]]:
    """Per-subspace k-means codebooks over L2-NORMALIZED vectors: dim
    splits into ``m`` contiguous subvectors; each subspace learns ``ks``
    codewords. Iterations run through
    :func:`~kusto_pre_forge_spark.operators.iterate.iterate`:

    - partial — numpy argmin per subspace over each batch, keeping only
      the task's (sub, code) → (count, sum) — vectors never leave their
      partitions;
    - fold — the partials sum in partition-id order (tasks × m × ks ×
      dsub doubles, MBs at 1000 tasks, never corpus-sized) and every
      non-empty code takes its mean. (An earlier ``applyInPandas``
      combine cost a second full Python exchange per iteration.)

    Determinism mirrors :func:`ivf_kmeans_centroids`: seeds are the
    ``ks`` corpus rows with smallest md5(seed ‖ id), iteration count is
    fixed, numpy accumulations have a fixed order; empty codes keep
    their previous codeword. ``sample_frac`` trains the codebooks on a
    deterministic md5-threshold slice (FAISS-style; encoding still
    covers every vector).
    """
    corpus = _train_sample(corpus, id_col, sample_frac, "kpf-pq")
    seeds = (
        corpus.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .withColumn(
            "_h", F.md5(F.concat_ws("|", F.lit(str(seed)), F.col("_id").cast("string")))
        )
        .orderBy("_h", "_id")
        .limit(ks)
        .collect()
    )
    V0 = np.array([np.asarray(r["_v"], dtype=np.float64) for r in seeds])
    V0 /= np.maximum(np.linalg.norm(V0, axis=1, keepdims=True), 1e-12)
    dim = V0.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    # C[s]: (ks, dsub)
    C = [V0[:, s * dsub : (s + 1) * dsub].copy() for s in range(m)]

    def partial(batches, C):
        sums: dict[tuple[int, int], np.ndarray] = {}
        counts: dict[tuple[int, int], int] = {}
        for V in batches:
            for s in range(m):
                Vs = V[:, s * dsub : (s + 1) * dsub]  # (n, dsub)
                # ||v - c||² argmin == argmax (v·c - ||c||²/2)
                scores = Vs @ C[s].T - 0.5 * (C[s] ** 2).sum(axis=1)[None, :]
                codes = np.argmax(scores, axis=1)
                for j in np.unique(codes):
                    sel = Vs[codes == j]
                    _accumulate(
                        sums, counts, (s, int(j)), sel.sum(axis=0), sel.shape[0]
                    )
        return sums, counts

    def fold(partials, C):
        sums, counts = _merge_partials(partials)
        C = [c.copy() for c in C]
        for (s, j), v in sums.items():
            C[s][j] = v / counts[(s, j)]
        return C

    vecs = corpus.select(F.col(vec_col).alias("_v"))
    C = iterate(vecs, C, n_iters, _unit_rows, partial, fold)
    return [c.tolist() for c in C]


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int>) — each L2-normalized vector's per-subspace
    nearest codeword ids. One vectorized Arrow pass; at ks<=256 the codes
    column stores as ``m`` small ints — the 100 TB memory story (a 64-dim
    float corpus shrinks ~32×)."""
    Cs = [np.asarray(c, dtype=np.float64) for c in codebooks]
    m = len(Cs)
    dsub = Cs[0].shape[1]

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def _codes(vs: pd.Series) -> pd.Series:
        V = np.array([np.asarray(v, dtype=np.float64) for v in vs])
        V = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
        out = np.zeros((V.shape[0], m), dtype=np.int32)
        for s in range(m):
            Vs = V[:, s * dsub : (s + 1) * dsub]
            scores = Vs @ Cs[s].T - 0.5 * (Cs[s] ** 2).sum(axis=1)[None, :]
            out[:, s] = np.argmax(scores, axis=1)
        return pd.Series(list(out))

    return corpus.select(
        F.col(id_col), _codes(F.col(vec_col)).alias("codes")
    )


def _pq_lut_udf(Cs):
    """Per-query flattened m×ks lookup table of subvector dot products
    over the L2-normalized query — the ADC scoring constant."""
    m = len(Cs)
    ks = Cs[0].shape[0]
    dsub = Cs[0].shape[1]

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def _lut(vs: pd.Series) -> pd.Series:
        V = np.array([np.asarray(v, dtype=np.float64) for v in vs])
        V = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
        out = np.zeros((V.shape[0], m * ks))
        for s in range(m):
            Qs = V[:, s * dsub : (s + 1) * dsub]
            out[:, s * ks : (s + 1) * ks] = Qs @ Cs[s].T
        return pd.Series(list(out))

    return _lut


def _pq_cell_scores_udf(C):
    """Cosine scores against the coarse IVF centroids — the dim-loop
    accumulation keeps the same left-to-right IEEE order as the
    F.aggregate fold (see cosine_topk_ivf's note)."""
    CN = np.maximum(np.linalg.norm(C, axis=1), 1e-12)

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def _scores(vs: pd.Series) -> pd.Series:
        V = np.array([np.asarray(v, dtype=np.float64) for v in vs])
        acc = np.zeros((V.shape[0], C.shape[0]))
        for dim in range(C.shape[1]):
            acc += V[:, dim, None] * C[None, :, dim]
        acc /= CN[None, :]
        return pd.Series(list(acc))

    return _scores


def _pq_adc_score(m: int, ks: int) -> Column:
    """The ADC score: sum of m table lookups — a pure-codegen aggregate
    fold over `_lut` (the query's table) and `codes` (the candidate)."""
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, s: acc
        + F.element_at(
            F.col("_lut"), s * ks + F.element_at(F.col("codes"), s + 1) + 1
        ),
    )


def _pq_probe_structs(n_cells: int, scores: Column) -> Column:
    """Cells ranked by score desc (index asc on ties) as sortable structs."""
    return F.sort_array(
        F.array(
            *[
                F.struct(
                    F.element_at(scores, j + 1).alias("s"),
                    F.lit(-j).alias("nj"),
                )
                for j in range(n_cells)
            ]
        ),
        asc=False,
    )


def _pq_rank_window():
    # built lazily: Window specs need an active session at construction
    return Window.partitionBy("query_id").orderBy(
        F.col("pq_score").desc(), F.col("neighbor_id").asc()
    )


def _pq_finalize(
    scored: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    rerank: int | None,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Shared top-k / rerank tail: either rank the ADC scores directly,
    or keep the top ``rerank`` candidates, re-read ONLY their raw
    vectors (|queries| × rerank rows), and exact-cosine re-rank."""
    if rerank is None:
        return scored.withColumn(
            "rank", F.row_number().over(_pq_rank_window())
        ).filter(F.col("rank") <= k)
    if rerank < k:
        raise ValueError("rerank candidate count must be >= k")
    cand = (
        scored.withColumn("rank", F.row_number().over(_pq_rank_window()))
        .filter(F.col("rank") <= rerank)
        .select("query_id", "neighbor_id")
    )
    v = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"))
    qv = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"))
    exact = (
        cand.join(v, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("_qv"), F.col("_cv")).alias("pq_score"),
        )
    )
    return exact.withColumn("rank", F.row_number().over(_pq_rank_window())).filter(
        F.col("rank") <= k
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    ks: int = 16,
    codebooks: list[list[list[float]]] | None = None,
    rerank: int | None = None,
) -> DataFrame:
    """Approximate cosine top-k by asymmetric-distance PQ scan (ADC):
    the corpus is its ``m``-code table; each query precomputes one
    ``m × ks`` lookup table of subvector dot products (Arrow pass over
    the tiny query set), and scoring any candidate is ``m`` array
    lookups summed — a pure-codegen ``F.aggregate`` fold, no floats from
    the corpus touched at query time.

    The scan is still corpus-wide (:func:`pq_topk_ivf` adds IVF cells
    for candidate pruning); the win is bandwidth: at 100 TB the scored
    table is ~3% the size of the raw vectors, which is the difference
    between a memory-resident index and re-reading parquet. Queries
    broadcast (tiny side), so the cross join is broadcast-tiny by
    construction.

    ``rerank=C`` adds the standard ADC+rerank stage: the PQ scan keeps
    the top ``C ≥ k`` candidates per query, ONLY those re-read their raw
    vectors (a semi-join-sized second scan, |queries| × C rows), and
    exact cosine re-orders the final top-k — measured 0.69 → 0.98
    recall@10 at m=32/ks=16 on the synthetic corpus. Returns (query_id,
    neighbor_id, pq_score, rank); with rerank, ``pq_score`` IS the exact
    cosine of the surviving candidates.
    """
    if codebooks is None:
        codebooks = pq_train_codebooks(
            corpus, id_col=id_col, vec_col=vec_col, m=m, ks=ks
        )
    Cs = [np.asarray(c, dtype=np.float64) for c in codebooks]
    m, ks = len(Cs), Cs[0].shape[0]
    codes = pq_encode(corpus, codebooks, id_col=id_col, vec_col=vec_col).select(
        F.col(id_col).alias("neighbor_id"), "codes"
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _pq_lut_udf(Cs)(F.col(vec_col)).alias("_lut"),
    )
    scored = (
        codes.join(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", _pq_adc_score(m, ks).alias("pq_score"))
    )
    return _pq_finalize(scored, corpus, queries, k, rerank, id_col, vec_col)


def pq_build_index(
    corpus: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The STORED form of an IVF-PQ index: (id, cell int, m codes) — what
    you persist instead of raw vectors (~32× smaller; dim never rides
    along). One Arrow pass computes both the coarse cell and the PQ
    codes; centroids/codebooks are frozen training artifacts passed in,
    so index rows are deterministic and append-only (the property the
    streaming maintainer relies on)."""
    C = np.array(centroids, dtype=np.float64)
    cell_scores = _pq_cell_scores_udf(C)
    return (
        pq_encode(corpus, codebooks, id_col=id_col, vec_col=vec_col)
        .join(corpus.select(id_col, vec_col), id_col)
        # materialize the scores ONCE (a single Arrow UDF node); the
        # argmax references the attribute, never a second UDF call
        .withColumn("_cs", cell_scores(F.col(vec_col)))
        .select(
            F.col(id_col),
            (F.array_position(F.col("_cs"), F.array_max("_cs")) - 1)
            .cast("int")
            .alias("_cell"),
            "codes",
        )
    )


def pq_query_index(
    index: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC search over a PREBUILT (id, cell, codes) index frame — the
    query half of :func:`pq_build_index`: queries carry their m×ks LUT +
    top-nprobe probe cells, candidates join on the int cell key, scores
    are the codegen lookup fold. Returns (query_id, neighbor_id,
    pq_score, rank)."""
    Cs = [np.asarray(c, dtype=np.float64) for c in codebooks]
    m, ks = len(Cs), Cs[0].shape[0]
    C = np.array(centroids, dtype=np.float64)
    cell_scores = _pq_cell_scores_udf(C)
    q = (
        queries.select(
            F.col(id_col).alias("query_id"),
            _pq_lut_udf(Cs)(F.col(vec_col)).alias("_lut"),
            cell_scores(F.col(vec_col)).alias("_cs"),
        )
        .withColumn(
            "_probe",
            F.explode(
                F.slice(_pq_probe_structs(C.shape[0], F.col("_cs")), 1, nprobe)
            ),
        )
        .select("query_id", "_lut", (-F.col("_probe.nj")).cast("int").alias("_cell"))
    )
    return (
        index.select(F.col(id_col).alias("neighbor_id"), "_cell", "codes")
        .join(F.broadcast(q), "_cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", _pq_adc_score(m, ks).alias("pq_score"))
        .withColumn("rank", F.row_number().over(_pq_rank_window()))
        .filter(F.col("rank") <= k)
    )


def pq_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    nprobe: int = 4,
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
    m: int = 8,
    ks: int = 16,
    rerank: int | None = None,
) -> DataFrame:
    """IVF-PQ — the canonical billion-scale ANN shape (FAISS IVFPQ;
    Jégou et al. 2011 §V): IVF coarse cells prune candidates
    (~``nprobe/n_cells`` of the corpus), PQ codes make scoring the
    survivors a table-lookup fold, optional exact rerank restores
    near-exact recall. LITERALLY the composition
    ``pq_query_index(pq_build_index(corpus))`` plus the shared rerank
    tail — one implementation of every stage (LUT, cell scores, ADC
    fold, probe ranking) lives in the ``_pq_*`` helpers.

    Returns (query_id, neighbor_id, pq_score, rank).
    """
    if codebooks is None:
        codebooks = pq_train_codebooks(
            corpus, id_col=id_col, vec_col=vec_col, m=m, ks=ks
        )
    if centroids is None:
        centroids = ivf_kmeans_centroids(
            corpus, id_col=id_col, vec_col=vec_col, n_cells=n_cells
        )
    centroids = centroids[:n_cells]
    index = pq_build_index(
        corpus, centroids, codebooks, id_col=id_col, vec_col=vec_col
    )
    if rerank is None:
        return pq_query_index(
            index, queries, centroids, codebooks, k=k, nprobe=nprobe,
            id_col=id_col, vec_col=vec_col,
        )
    scored = pq_query_index(
        index, queries, centroids, codebooks, k=max(rerank, k), nprobe=nprobe,
        id_col=id_col, vec_col=vec_col,
    ).select("query_id", "neighbor_id", "pq_score")
    return _pq_finalize(scored, corpus, queries, k, rerank, id_col, vec_col)
