"""Similarity search: exact brute-force vs numpy oracle; LSH recall."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from kusto_pre_forge_spark.operators import similarity


@pytest.fixture(scope="module")
def emb(spark, sf_smoke):
    return spark.read.parquet(f"{sf_smoke}/embeddings.parquet")


def numpy_topk(vecs: dict, query_ids, k):
    ids = sorted(vecs)
    M = np.array([vecs[i] for i in ids], dtype=np.float64)
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    out = {}
    for q in query_ids:
        qi = ids.index(q)
        sims = Mn @ Mn[qi]
        order = sorted(
            ((-(sims[j]), ids[j]) for j in range(len(ids)) if ids[j] != q)
        )
        out[q] = [vid for _, vid in order[:k]]
    return out


def test_cosine_topk_matches_numpy(emb):
    queries = emb.filter(F.col("vec_id") < 5)
    got = similarity.cosine_topk(emb, queries, k=10).collect()
    vecs = {r.vec_id: list(r.embedding) for r in emb.collect()}
    expect = numpy_topk(vecs, range(5), 10)
    by_q = {}
    for r in sorted(got, key=lambda r: (r.query_id, r.rank)):
        by_q.setdefault(r.query_id, []).append(r.neighbor_id)
    assert by_q == expect


def test_cosine_topk_lsh_recall(emb):
    queries = emb.filter(F.col("vec_id") < 20)
    exact = similarity.cosine_topk(emb, queries, k=10).collect()
    approx = similarity.cosine_topk_lsh(
        emb, queries, k=10, bits=4, probe_hamming=2, dim=64
    ).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    # note: the synthetic embeddings are isotropic random vectors, so true
    # top-10 neighbors are barely closer than noise — sign-LSH recall is
    # structurally modest here; chance for top-10-of-500 would be ~0.02.
    assert recall >= 0.5, f"recall {recall}"
    # every reported neighbor must carry a correct cosine (spot check one)
    r0 = approx[0]
    vecs = {r.vec_id: np.array(list(r.embedding), dtype=np.float64) for r in emb.collect()}
    a, b = vecs[r0.query_id], vecs[r0.neighbor_id]
    expect = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
    assert abs(r0.cosine - expect) < 1e-9


def test_lsh_is_subset_scored_identically(emb):
    queries = emb.filter(F.col("vec_id") < 3)
    exact = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in similarity.cosine_topk(emb, queries, k=50).collect()
    }
    approx = similarity.cosine_topk_lsh(emb, queries, k=10, bits=8).collect()
    for r in approx:
        key = (r.query_id, r.neighbor_id)
        if key in exact:
            assert abs(exact[key] - r.cosine) < 1e-12


def test_ivf_full_probe_equals_exact(emb):
    """nprobe = n_cells degenerates IVF to exact search — every cell probed."""
    queries = emb.filter(F.col("vec_id") < 5)
    exact = similarity.cosine_topk(emb, queries, k=10).collect()
    ivf = similarity.cosine_topk_ivf(emb, queries, k=10, n_cells=8, nprobe=8).collect()
    key = lambda rows: sorted((r.query_id, r.rank, r.neighbor_id) for r in rows)
    assert key(ivf) == key(exact)


def test_ivf_partial_probe_recall_and_soundness(emb):
    queries = emb.filter(F.col("vec_id") < 20)
    exact = similarity.cosine_topk(emb, queries, k=10).collect()
    approx = similarity.cosine_topk_ivf(emb, queries, k=10, n_cells=16, nprobe=4).collect()
    exact_scores = {(r.query_id, r.neighbor_id): r.cosine for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(set(exact_scores) & approx_set) / len(exact_scores)
    # isotropic random vectors: 4/16 cells ≈ 25% of corpus scored; top-10
    # neighbors of a query correlate with its cell, so recall beats 25%
    assert recall >= 0.3, f"recall {recall}"
    # soundness: any overlap with exact must carry the identical cosine
    for r in approx:
        k2 = (r.query_id, r.neighbor_id)
        if k2 in exact_scores:
            assert abs(exact_scores[k2] - r.cosine) < 1e-12
    # ranks are contiguous from 1 per query
    by_q = {}
    for r in sorted(approx, key=lambda r: (r.query_id, r.rank)):
        by_q.setdefault(r.query_id, []).append(r.rank)
    assert all(ranks == list(range(1, len(ranks) + 1)) for ranks in by_q.values())


def test_ivf_kmeans_centroids_deterministic_and_improve_recall(spark, emb):
    """Seeded fixed-iteration k-means: same inputs → identical centroids;
    trained cells beat the lowest-id baseline on recall@10 for queries
    disjoint from the baseline's centroid rows."""
    from kusto_pre_forge_spark.operators import similarity

    km1 = similarity.ivf_kmeans_centroids(emb, n_cells=8, n_iters=3, seed=13)
    km2 = similarity.ivf_kmeans_centroids(emb, n_cells=8, n_iters=3, seed=13)
    assert km1 == km2, "same seed must reproduce identical centroids"
    assert len(km1) == 8
    import math

    for c in km1:  # spherical k-means → unit vectors
        assert math.isqrt(0) == 0 and abs(sum(x * x for x in c) - 1.0) < 1e-9

    q = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 110))
    exact = similarity.cosine_topk(emb, q, k=10).select("query_id", "neighbor_id")

    def rec(approx):
        hits = exact.join(approx, ["query_id", "neighbor_id"], "left_semi").count()
        return hits / exact.count()

    trained = similarity.cosine_topk_ivf(
        emb, q, k=10, n_cells=8, nprobe=2, centroids=km1
    ).select("query_id", "neighbor_id")
    base = similarity.cosine_topk_ivf(emb, q, k=10, n_cells=8, nprobe=2).select(
        "query_id", "neighbor_id"
    )
    assert rec(trained) >= rec(base)


def test_embedding_whiten_identity_covariance(spark, sf_smoke):
    import numpy as np

    from kusto_pre_forge_spark.operators.similarity import embedding_whiten

    df = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
    out = embedding_whiten(df, "embedding", "vec_id").collect()
    Y = np.array([r.whitened for r in out])
    assert len(out) == df.count(), "every vector projected"
    C = np.cov(Y.T, bias=True)
    assert np.abs(C - np.eye(C.shape[0])).max() < 1e-6, "cov(whitened) == I"
    # mean removed
    assert np.abs(Y.mean(axis=0)).max() < 1e-9


def test_whiten_covariance_probe_matches_numpy(spark, sf_smoke):
    import numpy as np

    from kusto_pre_forge_spark.operators.similarity import (
        embedding_whiten,
        whiten_covariance_probe,
    )

    df = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
    out = embedding_whiten(df, "embedding", "vec_id")
    probe = whiten_covariance_probe(out, "whitened").collect()
    n = df.count()
    dim = len(df.select("embedding").first()[0])
    assert len(probe) == dim * dim
    assert all(r.n_vectors == n for r in probe)
    C = np.zeros((dim, dim))
    for r in probe:
        C[r.i][r.j] = r.cov_ij
    assert np.array_equal(C, np.eye(dim)), "probe emits exact identity"
    # no IEEE -0.0 survives the normalization (the oracle emits 0.0)
    assert all(math.copysign(1.0, r.cov_ij) > 0 for r in probe)


def test_embedding_quantize_int8(spark):
    from kusto_pre_forge_spark.operators.similarity import (
        embedding_quantize_int8,
    )

    df = spark.createDataFrame(
        [
            (1, [1.0, -0.5, 0.25, 0.0]),
            (2, [0.0, 0.0, 0.0, 0.0]),
            (3, [-2.0, 2.0, 1.0, -1.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    out = {r.vec_id: r for r in embedding_quantize_int8(df).collect()}
    r1 = out[1]
    assert r1.q == [127, -64, 32, 0] and abs(r1.scale - 1.0 / 127) < 1e-12
    # reconstruction error bounded by half a quantization step per dim
    assert r1.mse <= (0.5 * r1.scale) ** 2 + 1e-15
    r2 = out[2]
    assert r2.q == [0, 0, 0, 0] and r2.scale == 0.0 and r2.mse == 0.0
    r3 = out[3]
    assert r3.q == [-127, 127, 64, -64]
    assert max(abs(v) for v in r3.q) <= 127


def test_pq_topk_recall_and_compression(spark, emb):
    """PQ ADC scan: recall pinned at the sweep-measured levels; codes are
    m small ints (the 100 TB memory story); rerank lifts recall near
    exact."""
    from kusto_pre_forge_spark.operators import similarity

    q = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 110))
    exact = similarity.cosine_topk(emb, q, k=10).select(
        "query_id", "neighbor_id"
    )
    n_exact = exact.count()
    cb = similarity.pq_train_codebooks(emb, m=32, ks=16, n_iters=5)
    assert len(cb) == 32 and len(cb[0]) == 16 and len(cb[0][0]) == 2
    codes = similarity.pq_encode(emb, cb)
    row = codes.first()
    assert len(row.codes) == 32 and all(0 <= c < 16 for c in row.codes)
    raw = similarity.pq_topk(emb, q, k=10, codebooks=cb).select(
        "query_id", "neighbor_id"
    )
    r_raw = exact.join(raw, ["query_id", "neighbor_id"], "left_semi").count() / n_exact
    assert r_raw >= 0.55, r_raw
    rr = similarity.pq_topk(emb, q, k=10, codebooks=cb, rerank=50).select(
        "query_id", "neighbor_id"
    )
    r_rr = exact.join(rr, ["query_id", "neighbor_id"], "left_semi").count() / n_exact
    assert r_rr >= 0.90, r_rr
    assert r_rr >= r_raw, "rerank can only help"


def test_pq_topk_validations(spark, emb):
    from kusto_pre_forge_spark.operators import similarity

    q = emb.limit(2)
    with pytest.raises(ValueError, match="rerank"):
        similarity.pq_topk(
            emb, q, k=10, codebooks=[[[0.0] * 2] * 4] * 32, rerank=5
        )
    with pytest.raises(ValueError, match="divisible"):
        similarity.pq_train_codebooks(emb, m=7)


def test_pq_topk_ivf_composition(spark, emb):
    """IVF-PQ: probing ALL cells degenerates to the PQ-only candidate set;
    partial probes keep a useful recall at a fraction of the scan."""
    from kusto_pre_forge_spark.operators import similarity

    q = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 110))
    exact = similarity.cosine_topk(emb, q, k=10).select("query_id", "neighbor_id")
    n_exact = exact.count()
    cb = similarity.pq_train_codebooks(emb, m=32, ks=16, n_iters=5)
    km = similarity.ivf_kmeans_centroids(emb, n_cells=16, n_iters=8, seed=13)
    # full probe == PQ-only (same candidates, same rerank)
    full = similarity.pq_topk_ivf(
        emb, q, k=10, n_cells=16, nprobe=16, centroids=km, codebooks=cb, rerank=50
    ).select("query_id", "neighbor_id")
    pq_only = similarity.pq_topk(emb, q, k=10, codebooks=cb, rerank=50).select(
        "query_id", "neighbor_id"
    )
    assert full.exceptAll(pq_only).count() == 0
    assert pq_only.exceptAll(full).count() == 0
    # partial probe: recall floor at the measured level
    part = similarity.pq_topk_ivf(
        emb, q, k=10, n_cells=16, nprobe=8, centroids=km, codebooks=cb, rerank=50
    ).select("query_id", "neighbor_id")
    r = exact.join(part, ["query_id", "neighbor_id"], "left_semi").count() / n_exact
    assert r >= 0.60, r


def test_sampled_training_deterministic_and_valid(spark, emb):
    """sample_frac: deterministic slice (two runs identical artifacts),
    rerank recall stays high, and bad fractions fail fast."""
    from kusto_pre_forge_spark.operators import similarity

    cb1 = similarity.pq_train_codebooks(emb, m=32, ks=16, n_iters=3, sample_frac=0.5)
    cb2 = similarity.pq_train_codebooks(emb, m=32, ks=16, n_iters=3, sample_frac=0.5)
    assert cb1 == cb2
    km1 = similarity.ivf_kmeans_centroids(emb, n_cells=8, n_iters=3, sample_frac=0.5)
    km2 = similarity.ivf_kmeans_centroids(emb, n_cells=8, n_iters=3, sample_frac=0.5)
    assert km1 == km2
    # sampled codebooks still support a high rerank recall (exact rerank
    # mostly decouples recall from codebook quality)
    q = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 110))
    exact = similarity.cosine_topk(emb, q, k=10).select("query_id", "neighbor_id")
    rr = similarity.pq_topk(emb, q, k=10, codebooks=cb1, rerank=50).select(
        "query_id", "neighbor_id"
    )
    n = exact.count()
    r = exact.join(rr, ["query_id", "neighbor_id"], "left_semi").count() / n
    assert r >= 0.85, r
    import pytest as _pt

    with _pt.raises(ValueError):
        similarity.pq_train_codebooks(emb, m=32, ks=16, sample_frac=0.0)
    with _pt.raises(ValueError):
        similarity.ivf_kmeans_centroids(emb, sample_frac=1.5)


@pytest.mark.parametrize("trainer", ["kmeans", "pq"])
def test_trainers_one_vs_n_partitions(emb, trainer):
    """One arithmetic, two schedules: a one-partition corpus trains in a
    single task, a four-partition one in per-iteration jobs folded on
    the driver — outputs agree to FP reassociation."""
    def train(df):
        if trainer == "kmeans":
            return similarity.ivf_kmeans_centroids(df, n_cells=8, n_iters=3)
        return similarity.pq_train_codebooks(df, m=32, ks=16, n_iters=3)

    one, four = emb.coalesce(1), emb.repartition(4)
    assert one.rdd.getNumPartitions() == 1
    assert four.rdd.getNumPartitions() == 4
    a, b = np.asarray(train(one)), np.asarray(train(four))
    assert a.shape == b.shape
    assert np.max(np.abs(a - b)) <= 1e-9


def test_ann_recall_pq_pooled_trainings_keep_job_group(spark, sf_smoke):
    """ann_recall_pq trains PQ and k-means on pool threads; their jobs
    still carry the caller's job group (none lands ungrouped)."""
    import __spark_entry__ as entry

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("kpf-pooled-training", "ann_recall_pq")
    try:
        entry.queries()["ann_recall_pq"](spark, sf_smoke).collect()
    finally:
        sc.setJobGroup(None, None)
    assert tracker.getJobIdsForGroup("kpf-pooled-training")
    assert set(tracker.getJobIdsForGroup(None)) - before == set()


def test_hard_negatives_wrong_label_only(spark):
    """Mined negatives never share the query's label; ranks are dense by
    descending cosine; min_cosine floors the mined set."""
    from kusto_pre_forge_spark.operators import similarity as sim

    rows = [
        (1, [1.0, 0.0], 0),
        (2, [0.99, 0.1], 0),   # same label as query 1 -> excluded
        (3, [0.9, 0.3], 1),
        (4, [0.5, 0.8], 1),
        (5, [-1.0, 0.0], 2),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    q = df.filter(F.col("vec_id") == 1)
    out = sim.hard_negatives(df, q, k=3).collect()
    got = [(r.neighbor_id, r.rank) for r in sorted(out, key=lambda r: r.rank)]
    assert got == [(3, 1), (4, 2), (5, 3)]
    assert all(r.neighbor_label != r.query_label for r in out)
    floored = sim.hard_negatives(df, q, k=3, min_cosine=0.0).collect()
    assert sorted(r.neighbor_id for r in floored) == [3, 4]


def test_knn_classify_majority_and_tiebreak(spark):
    """Majority vote wins; vote ties resolve to the smallest label."""
    from kusto_pre_forge_spark.operators import similarity as sim

    labeled = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 7),
            (2, [0.95, 0.1], 3),
            (3, [0.9, 0.2], 7),
            (4, [-1.0, 0.0], 0),
        ],
        "vec_id long, embedding array<double>, label int",
    )
    pool = spark.createDataFrame(
        [(100, [1.0, 0.05])], "vec_id long, embedding array<double>"
    )
    # k=3 neighbors: vecs 1, 2, 3 -> labels {7: 2 votes, 3: 1} -> 7 wins
    r = sim.knn_classify(labeled, pool, k=3).first()
    assert r.predicted_label == 7 and r.votes == 2
    # k=2 neighbors: vecs 1 (label 7) and 2 (label 3) -> vote tie ->
    # smallest label wins
    r2 = sim.knn_classify(labeled, pool, k=2).first()
    assert r2.votes == 1 and r2.predicted_label == 3
    # both plans agree row-for-row (classify window path vs the
    # seed-broadcast map-only propagate path)
    for k in (2, 3):
        a = sim.knn_propagate(labeled, pool, k=k).first()
        b = sim.knn_classify(labeled, pool, k=k).first()
        assert (a.predicted_label, a.votes) == (b.predicted_label, b.votes)
        assert abs(a.top_cosine - b.top_cosine) < 1e-12


def test_knn_classify_string_labels_both_paths(spark):
    """Weak-supervision labels are usually STRINGS — both plans must
    vote and tie-break (smallest label lexicographically) without any
    numeric coercion (ANSI mode rejects unary minus on strings)."""
    from kusto_pre_forge_spark.operators import similarity as sim

    labeled = spark.createDataFrame(
        [
            (1, [1.0, 0.0], "spam"),
            (2, [0.95, 0.1], "ham"),
            (3, [0.9, 0.2], "spam"),
            (4, [-1.0, 0.0], "eggs"),
        ],
        "vec_id long, embedding array<double>, label string",
    )
    pool = spark.createDataFrame(
        [(100, [1.0, 0.05])], "vec_id long, embedding array<double>"
    )
    for fn in (sim.knn_classify, sim.knn_propagate):
        r = fn(labeled, pool, k=3).first()
        assert r.predicted_label == "spam" and r.votes == 2
        # k=2: tie between "spam" (vec 1) and "ham" (vec 2) -> "ham"
        r2 = fn(labeled, pool, k=2).first()
        assert r2.predicted_label == "ham" and r2.votes == 1


def test_knn_propagation_plan_is_map_only(spark):
    """knn_propagate broadcasts the LABELED seeds and never shuffles
    the pool: no Exchange above the pool scan, no window, and the
    broadcast build side is the 1-row seeds frame."""
    from kusto_pre_forge_spark.operators import similarity as sim

    labeled = spark.createDataFrame(
        [(i, [float(i), 1.0], i % 3) for i in range(6)],
        "vec_id long, embedding array<double>, label int",
    )
    pool = spark.createDataFrame(
        [(100 + i, [1.0, float(i)]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    df = sim.knn_propagate(labeled, pool, k=3)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan
    assert "Window" not in plan
    # the only exchange allowed is the seeds' own 1-row aggregate /
    # broadcast, never a hash-partitioning of pool rows by query
    assert "hashpartitioning(query_id" not in plan


def test_knn_propagate_max_seeds_guard(spark):
    """The seeds path collects the WHOLE labeled side into one broadcast
    row — past max_seeds it must refuse loudly, not OOM at scale."""
    import pytest

    from kusto_pre_forge_spark.operators import similarity as sim

    labeled = spark.createDataFrame(
        [(i, [float(i), 1.0], i % 2) for i in range(6)],
        "vec_id long, embedding array<double>, label int",
    )
    pool = spark.createDataFrame(
        [(100, [1.0, 0.5])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="max_seeds"):
        sim.knn_propagate(labeled, pool, k=2, max_seeds=3)
    # at exactly the limit it runs
    assert sim.knn_propagate(labeled, pool, k=2, max_seeds=6).count() == 1


def test_knn_classify_max_pool_guard(spark):
    """ADVICE r9 #1: the classify posture broadcasts the ENTIRE unlabeled
    pool — past max_pool it must refuse loudly (naming the
    broadcast_pool=False escape hatch), not blow the broadcast limit; at
    the limit it runs; broadcast_pool=False takes the propagate path
    regardless of pool size."""
    import pytest

    from kusto_pre_forge_spark.operators import similarity as sim

    labeled = spark.createDataFrame(
        [(i, [float(i), 1.0], i % 2) for i in range(4)],
        "vec_id long, embedding array<double>, label int",
    )
    pool = spark.createDataFrame(
        [(100 + i, [1.0, 0.5]) for i in range(5)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="broadcast_pool=False"):
        sim.knn_classify(labeled, pool, k=2, max_pool=4)
    assert sim.knn_classify(labeled, pool, k=2, max_pool=5).count() == 5
    # the big-pool posture ignores max_pool entirely
    assert (
        sim.knn_classify(
            labeled, pool, k=2, broadcast_pool=False, max_pool=1
        ).count()
        == 5
    )
