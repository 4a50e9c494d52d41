"""Row-wise (streaming-safe) MinHash signatures match the batch
aggregation exactly."""

from __future__ import annotations

ROWS = [
    (0, "alpha beta gamma delta epsilon zeta eta theta"),
    (1, "alpha beta gamma delta epsilon zeta eta theta"),      # exact dup of 0
    (2, "alpha beta gamma delta epsilon zeta eta iota"),        # near dup
    (3, "completely different text about database engines here"),
    (4, "another unrelated document mentioning query planners"),
    (5, "alpha beta gamma delta epsilon zeta eta theta"),      # dup, later batch
    (6, "fresh content appearing only in the second batch now"),
]


def test_rowwise_signatures_match_batch(spark):
    from whoosh_novo_spark.operators.dedup import (
        minhash_signatures,
        minhash_signatures_rowwise,
    )

    docs = spark.createDataFrame(ROWS, "doc_id long, text string")
    for fn in ("xxhash64", "md5"):
        a = {r["id"]: list(r["sig"]) for r in minhash_signatures(docs, hash_fn=fn).collect()}
        b = {
            r["id"]: list(r["sig"])
            for r in minhash_signatures_rowwise(docs, hash_fn=fn).collect()
        }
        assert a == b and a
