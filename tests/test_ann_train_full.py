"""Full-data quantizer training: the trainers in operators/similarity.py
read the first ``sample`` rows by id, so a ``sample`` that covers the
table trains on every row.  Checked here: iteration-exact parity with a
numpy oracle over the whole data, partitioning invariance, and the
reason to train on everything — when the bounded prefix sample is
BIASED (misses clusters), full-data training gives a strictly better
quantizer, and better served recall, than the prefix sample."""

from __future__ import annotations

import numpy as np
import pytest

from whoosh_novo_spark.operators.similarity import (
    _unit_rows,
    train_ivf_centroids,
    train_pq_codebooks,
    train_pq_codebooks_residual,
)


def _make_clusters(n_clusters: int, per: int, dim: int, seed: int, spread=0.25):
    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    for c in range(n_clusters):
        for _ in range(per):
            u = rng.standard_normal(dim)
            v = centers[c] + spread * (u / np.linalg.norm(u))
            rows.append((c, v / np.linalg.norm(v)))
    return rows  # (cluster, unit vector)


def _sorted_by_cluster_df(spark, raw):
    rows = [
        (i, [float(x) for x in v])
        for i, (c, v) in enumerate(sorted(raw, key=lambda t: t[0]))
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).repartition(6).cache()
    df.count()
    return df, rows


@pytest.fixture(scope="module")
def interleaved(spark):
    """3000 vectors over 12 clusters, ids INTERLEAVED across clusters."""
    raw = _make_clusters(12, 250, 32, seed=7)
    by_c: dict[int, list] = {}
    for c, v in raw:
        by_c.setdefault(c, []).append(v)
    rows = []
    for i in range(len(raw)):
        rows.append((i, [float(x) for x in by_c[i % 12][i // 12]]))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).repartition(5).cache()
    df.count()
    X = _unit_rows(
        np.asarray([v for _, v in sorted(rows)], dtype=np.float64)
    )
    return df, X


def _numpy_ivf(X, k, iters):
    C = X[np.linspace(0, len(X) - 1, k).astype(int)].copy()
    for _ in range(iters):
        a = np.argmax(np.round(X @ C.T, 9), axis=1)
        for j in range(k):
            members = X[a == j]
            if len(members):
                C[j] = members.mean(axis=0)
        C = _unit_rows(C)
    return C


def test_ivf_full_matches_numpy(spark, interleaved):
    df, X = interleaved
    k, iters = 8, 4
    got = train_ivf_centroids(df, n_centroids=k, iters=iters, sample=len(X))
    want = _numpy_ivf(X, k, iters)
    assert np.allclose(got, want, atol=1e-9)
    # final assignments identical too
    assert (
        np.argmax(np.round(X @ got.T, 9), axis=1)
        == np.argmax(np.round(X @ want.T, 9), axis=1)
    ).all()


def test_ivf_full_partition_invariance(spark, interleaved):
    df, X = interleaved
    a = train_ivf_centroids(
        df.repartition(3), n_centroids=6, iters=3, sample=len(X)
    )
    b = train_ivf_centroids(
        df.repartition(11), n_centroids=6, iters=3, sample=len(X)
    )
    assert np.allclose(a, b, atol=1e-12)


def _numpy_pq(X, m, n_codes, iters, C=None):
    if C is not None:
        X = X - C[np.argmax(np.round(X @ C.T, 9), axis=1)]
    dsub = X.shape[1] // m
    k = min(n_codes, len(X))
    books = np.empty((m, k, dsub))
    for s in range(m):
        Xs = X[:, s * dsub : (s + 1) * dsub]
        Cb = Xs[np.linspace(0, len(X) - 1, k).astype(int)].copy()
        for _ in range(iters):
            d2 = ((Xs[:, None, :] - Cb[None, :, :]) ** 2).sum(axis=2)
            aa = np.argmin(np.round(d2, 9), axis=1)
            for j in range(k):
                members = Xs[aa == j]
                if len(members):
                    Cb[j] = members.mean(axis=0)
        books[s] = Cb
    return books


def test_pq_full_matches_numpy_raw_and_residual(spark, interleaved):
    df, X = interleaved
    m, n_codes, iters = 4, 16, 3
    got = train_pq_codebooks(df, m=m, n_codes=n_codes, iters=iters, sample=len(X))
    want = _numpy_pq(X, m, n_codes, iters)
    assert np.allclose(got, want, atol=1e-9)

    C = _numpy_ivf(X, 6, 3)
    got_r = train_pq_codebooks_residual(
        df, C, m=m, n_codes=n_codes, iters=iters, sample=len(X)
    )
    want_r = _numpy_pq(X, m, n_codes, iters, C=C)
    assert np.allclose(got_r, want_r, atol=1e-9)


def test_full_training_recovers_clusters_a_biased_sample_misses(spark):
    """The ids order ALL of clusters 0-1 first, so a 500-row prefix
    sample never sees clusters 2-11; training on every row places a
    centroid in each cluster and wins on the whole-corpus quantization
    objective (mean max-cosine to a centroid) by a clear margin."""
    raw = _make_clusters(12, 250, 32, seed=11)
    df, rows = _sorted_by_cluster_df(spark, raw)
    X = _unit_rows(np.asarray([v for _, v in rows], dtype=np.float64))

    k, iters = 12, 8
    C_sampled = train_ivf_centroids(df, n_centroids=k, iters=iters, sample=500)
    C_full = train_ivf_centroids(df, n_centroids=k, iters=iters, sample=len(rows))
    obj_sampled = np.max(X @ C_sampled.T, axis=1).mean()
    obj_full = np.max(X @ C_full.T, axis=1).mean()
    assert obj_full > obj_sampled + 0.02, (obj_full, obj_sampled)
    # and the full-trained quantizer is a good one in absolute terms:
    # with spread 0.25 a well-placed centroid keeps members above ~0.9
    assert obj_full > 0.9


def test_full_trained_quantizers_serve_ivf_pq(spark):
    """End-to-end compose: full-data centroids + RESIDUAL codebooks
    drive the whole serving stack (ivf_pq_index residual=True ->
    ivf_pq_topk ADC + re-rank) at recall@10 >= 0.9, and on a
    BIASED-prefix corpus they beat prefix-sample training on served
    recall, not just on the quantization objective."""
    from whoosh_novo_spark.operators.similarity import (
        cosine_topk,
        ivf_pq_index,
        ivf_pq_topk,
    )

    raw = _make_clusters(12, 120, 32, seed=23)
    df, rows = _sorted_by_cluster_df(spark, raw)
    vecs = [v for _, v in rows]
    k_c, iters, prefix = 12, 8, 450  # the prefix covers clusters 0-3 only

    def served_recall(C, books):
        index = ivf_pq_index(df, C, books, residual=True).cache()
        hits = 0
        qids = [60, 300, 540, 780, 1020, 1260]  # one per even cluster
        for qid in qids:
            qv = vecs[qid]
            exact = {r["vec_id"] for r in cosine_topk(df, qv, k=10).collect()}
            approx = {
                r["vec_id"]
                for r in ivf_pq_topk(
                    df, qv, C, books, k=10, nprobe=3, index=index, residual=True
                ).collect()
            }
            hits += len(exact & approx)
        index.unpersist()
        return hits / (10 * len(qids))

    def trained(sample):
        C = train_ivf_centroids(df, n_centroids=k_c, iters=iters, sample=sample)
        B = train_pq_codebooks_residual(df, C, m=4, n_codes=32, iters=4, sample=sample)
        return C, B

    r_full = served_recall(*trained(len(rows)))
    r_sampled = served_recall(*trained(prefix))

    assert r_full >= 0.9, (r_full, r_sampled)
    assert r_full > r_sampled, (r_full, r_sampled)
