"""Incremental IVF x PQ index maintenance: appends are row-identical to
a full rebuild and are served as soon as they land, deletes tombstone
without a rewrite, and compaction keeps rows and results."""

from __future__ import annotations

import numpy as np
import pytest

from whoosh_novo_spark.operators.similarity import (
    ivf_pq_index,
    ivf_pq_index_append,
    ivf_pq_topk,
    ivf_pq_topk_batch,
    train_ivf_centroids,
    train_pq_codebooks_residual,
)


@pytest.fixture(scope="module")
def corpus(spark):
    rng = np.random.default_rng(43)
    centers = rng.standard_normal((6, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    for i in range(3000):
        u = rng.standard_normal(64)
        v = centers[i % 6] + 0.3 * (u / np.linalg.norm(u))
        v /= np.linalg.norm(v)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>").cache()
    df.count()
    C = train_ivf_centroids(df, n_centroids=6, iters=5, sample=1024)
    books = train_pq_codebooks_residual(df, C, m=8, n_codes=32, sample=1024)
    return df, rows, C, books


def test_index_append_matches_full_build(spark, tmp_path, corpus):
    """Two ivf_pq_index_append calls over halves == one full build over
    the union: identical (vec_id, codes, cid) rows, identical query
    results through the materialized path."""
    df, rows, C, books = corpus
    schema = "vec_id long, embedding array<double>"
    full_path = str(tmp_path / "ix_full")
    inc_path = str(tmp_path / "ix_inc")

    ivf_pq_index(df, C, books, residual=True).write.partitionBy("cid").parquet(
        full_path
    )
    h1 = spark.createDataFrame(rows[:1500], schema)
    h2 = spark.createDataFrame(rows[1500:], schema)
    ivf_pq_index_append(h1, C, books, inc_path, residual=True)
    ivf_pq_index_append(h2, C, books, inc_path, residual=True)

    key = lambda r: (r["vec_id"], tuple(r["codes"]), r["cid"])
    full = sorted(map(key, spark.read.parquet(full_path).collect()))
    inc = sorted(map(key, spark.read.parquet(inc_path).collect()))
    assert full == inc

    qv = rows[7][1]
    res_full = ivf_pq_topk(
        df, qv, C, books, k=10, nprobe=2,
        index=spark.read.parquet(full_path), residual=True,
    ).collect()
    res_inc = ivf_pq_topk(
        df, qv, C, books, k=10, nprobe=2,
        index=spark.read.parquet(inc_path), residual=True,
    ).collect()
    assert [(r["vec_id"], r["cos"]) for r in res_full] == [
        (r["vec_id"], r["cos"]) for r in res_inc
    ]


def test_served_results_cover_appended_vectors(spark, tmp_path, corpus):
    """Serving reads a fresh snapshot of the index path: rows appended by
    ivf_pq_index_append after the first build are served (the
    maintain-then-serve cycle)."""
    df, rows, C, books = corpus
    schema = "vec_id long, embedding array<double>"
    idx_path = str(tmp_path / "ix_grow")
    emb_path = str(tmp_path / "emb_grow")

    ivf_pq_index_append(
        spark.createDataFrame(rows[:2000], schema), C, books, idx_path, residual=True
    )
    spark.createDataFrame(rows[:2000], schema).write.mode("append").parquet(emb_path)
    # the "new arrivals": vectors 2000.. (cluster structure unchanged)
    ivf_pq_index_append(
        spark.createDataFrame(rows[2000:], schema), C, books, idx_path, residual=True
    )
    spark.createDataFrame(rows[2000:], schema).write.mode("append").parquet(emb_path)

    # query = an appended vector itself: it must be its own top hit,
    # which is only possible if the served snapshot includes the append
    target = 2600
    top = sorted(
        ivf_pq_topk(
            spark.read.parquet(emb_path),
            rows[target][1],
            C,
            books,
            k=5,
            nprobe=2,
            # shortlist >= the two probed lists (~1000 rows): the exact
            # re-rank then covers every probed candidate, so the check is
            # deterministic (ADC estimates may rank others above an exact
            # twin at a 50-row shortlist under isotropic in-cluster noise)
            shortlist=1200,
            index=spark.read.parquet(idx_path),
            residual=True,
        ).collect(),
        key=lambda r: (-r["cos"], r["vec_id"]),
    )
    assert top[0]["vec_id"] == target
    assert top[0]["cos"] == 1.0


def test_deletes_tombstone_without_rewrite(spark, tmp_path, corpus):
    """Deleting a vector id anti-joins it out before ADC: the deleted
    top hit disappears, and the remaining ranking equals a query over
    an index with the row physically absent (both single and batch)."""
    df, rows, C, books = corpus
    idx = ivf_pq_index(df, C, books, residual=True).cache()
    qv = rows[42][1]
    base = ivf_pq_topk(
        df, qv, C, books, k=10, nprobe=2, shortlist=1200, index=idx, residual=True
    ).collect()
    assert base[0]["vec_id"] == 42  # its own twin tops the list
    dead = [42, base[1]["vec_id"]]

    got = ivf_pq_topk(
        df, qv, C, books, k=10, nprobe=2, shortlist=1200, index=idx,
        residual=True, deletes=dead,
    ).collect()
    # physically-filtered ground truth
    phys = ivf_pq_topk(
        df, qv, C, books, k=10, nprobe=2, shortlist=1200,
        index=idx.where(~idx.vec_id.isin(dead)), residual=True,
    ).collect()
    assert [(r["vec_id"], r["cos"]) for r in got] == [
        (r["vec_id"], r["cos"]) for r in phys
    ]
    assert not {r["vec_id"] for r in got} & set(dead)

    batch = ivf_pq_topk_batch(
        df, [("q", qv)], C, books, k=10, nprobe=2, shortlist=1200, index=idx,
        residual=True,
        deletes=spark.createDataFrame([(d,) for d in dead], "vec_id long"),
    ).collect()
    assert [(r["vec_id"], r["cos"]) for r in sorted(batch, key=lambda r: r["rank"])] == [
        (r["vec_id"], r["cos"]) for r in got
    ]
    idx.unpersist()


def test_compact_preserves_rows_and_results(spark, tmp_path, corpus):
    """After several appends, compaction reduces per-partition file
    count to one while leaving rows and query results bit-identical."""
    from whoosh_novo_spark.operators.similarity import ivf_pq_index_compact

    df, rows, C, books = corpus
    schema = "vec_id long, embedding array<double>"
    path = str(tmp_path / "ix_many")
    for lo in range(0, 3000, 750):
        ivf_pq_index_append(
            spark.createDataFrame(rows[lo : lo + 750], schema), C, books, path,
            residual=True,
        )
    key = lambda r: (r["vec_id"], tuple(r["codes"]), r["cid"])
    before_rows = sorted(map(key, spark.read.parquet(path).collect()))
    qv = rows[99][1]
    before_q = ivf_pq_topk(
        df, qv, C, books, k=10, nprobe=2, index=spark.read.parquet(path),
        residual=True,
    ).collect()

    stats = ivf_pq_index_compact(spark, path)
    assert stats["files_after"] < stats["files_before"]

    assert sorted(map(key, spark.read.parquet(path).collect())) == before_rows
    after_q = ivf_pq_topk(
        df, qv, C, books, k=10, nprobe=2, index=spark.read.parquet(path),
        residual=True,
    ).collect()
    assert [(r["vec_id"], r["cos"]) for r in before_q] == [
        (r["vec_id"], r["cos"]) for r in after_q
    ]


def test_compact_purges_tombstones(spark, tmp_path, corpus):
    """Compaction with deletes drops tombstoned rows from the index
    (the text side's merge-purge): queries on the purged index WITHOUT
    a tombstone filter equal tombstone-filtered queries on the old
    index, and the dead ids are physically gone."""
    from whoosh_novo_spark.operators.similarity import ivf_pq_index_compact

    df, rows, C, books = corpus
    schema = "vec_id long, embedding array<double>"
    path = str(tmp_path / "ix_purge")
    ivf_pq_index_append(
        spark.createDataFrame(rows, schema), C, books, path, residual=True
    )
    qv = rows[42][1]
    dead = [42, 48]
    want = ivf_pq_topk(
        df, qv, C, books, k=10, nprobe=2, shortlist=1200,
        index=spark.read.parquet(path), residual=True, deletes=dead,
    ).collect()

    stats = ivf_pq_index_compact(spark, path, deletes=dead)
    assert stats["rows_purged"] == 2
    purged = spark.read.parquet(path)
    assert purged.where(purged.vec_id.isin(dead)).count() == 0
    got = ivf_pq_topk(
        df, qv, C, books, k=10, nprobe=2, shortlist=1200,
        index=purged, residual=True,
    ).collect()
    assert [(r["vec_id"], r["cos"]) for r in got] == [
        (r["vec_id"], r["cos"]) for r in want
    ]
