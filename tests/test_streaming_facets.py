"""Facets, collapse and suggest over a built index."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from whoosh_novo_spark.operators.build import build_segment
from whoosh_novo_spark.operators.query import Index, Searcher
from whoosh_novo_spark.plans import ast
from whoosh_novo_spark.schema import FieldConfig, IndexConfig
from whoosh_novo_spark.sources.corpus import corpus_pandas
from whoosh_novo_spark.sources.segment_store import SegmentStore

@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    pdf = corpus_pandas(200, seed=71, vocab_size=200)
    store = SegmentStore(str(tmp_path_factory.mktemp("fac_ix")))
    df = spark.createDataFrame(
        list(zip(pdf["url"], pdf["text"], pdf["lang"])),
        "url string, text string, lang string",
    )
    cfg = IndexConfig(id_col="url", fields=(FieldConfig("text"),))
    build_segment(spark, df, cfg, store, partitions=2)
    ix = Index(spark, store, cfg)
    return ix, Searcher(ix)


def test_field_facet_count_and_best(built):
    from whoosh_novo_spark.operators.facets import (
        collapse,
        facet_best,
        facet_count,
        field_facet,
    )

    ix, searcher = built
    res = searcher.score_df(ast.Term("text", "render"))
    docs = ix.docmap(columns=["docid", "lang"])
    fac = field_facet(res, docs, "lang").withColumnRenamed("lang", "facet")
    counts = {r["facet"]: r["n"] for r in facet_count(fac).collect()}
    assert sum(counts.values()) == res.count()
    best = {r["facet"]: (r["docid"], r["score"]) for r in facet_best(fac).collect()}
    for lang, (docid, score) in best.items():
        grp = fac.where(F.col("facet") == lang).orderBy(
            F.desc("score"), F.asc("docid")
        ).first()
        assert (grp["docid"], grp["score"]) == (docid, score)

    # collapse: 2 best docs per lang
    c = collapse(res, docs, "lang", limit_per_key=2)
    per = c.groupBy("lang").count().collect()
    assert all(r["count"] <= 2 for r in per)


def test_range_facet(spark):
    from whoosh_novo_spark.operators.facets import range_facet

    df = spark.createDataFrame([(float(i),) for i in range(20)], "x double")
    got = df.select(range_facet(F.col("x"), 0, 20, 5).alias("b")).groupBy("b").count().collect()
    assert {r["b"]: r["count"] for r in got} == {0.0: 5, 5.0: 5, 10.0: 5, 15.0: 5}


def test_query_facet(built):
    from whoosh_novo_spark.operators.facets import facet_count, query_facet

    ix, searcher = built
    qf = query_facet(
        searcher,
        {
            "has_render": ast.Term("text", "render"),
            "has_shade": ast.Term("text", "shade"),
        },
    )
    counts = {r["facet"]: r["n"] for r in facet_count(qf).collect()}
    st = ix.term_stats([("text", "render"), ("text", "shade")])
    assert counts["has_render"] == st[("text", "render")].df
    assert counts["has_shade"] == st[("text", "shade")].df


def test_suggest_matches_reference(built, oracle_cls):
    from whoosh_novo_spark.operators.suggest import suggest

    ix, searcher = built
    dm = {r["docid"]: r["url"] for r in ix.docmap(columns=["docid", "url"]).collect()}
    # rebuild the same corpus rows for the oracle
    pdf = corpus_pandas(200, seed=71, vocab_size=200)
    oracle = oracle_cls([(u, t) for u, t in zip(pdf["url"], pdf["text"])])
    with oracle.ix.searcher() as s:
        corr = s.corrector("text")
        for word in ["rendor", "shadee", "texure"]:
            theirs = corr.suggest(word, limit=5, maxdist=2, prefix=0)
            ours = suggest(ix, "text", word, limit=5, maxdist=2, prefix=0)
            assert ours == theirs, (word, ours, theirs)
