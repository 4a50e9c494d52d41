"""Prepared-plan cache (r6): repeated searches reuse the compiled logical
plan but must hand out a FRESH Dataset each call — same results, new
physical execution (reusing the same Dataset object would silently reuse
its materialized shuffle outputs, i.e. result caching)."""

from __future__ import annotations

import pytest

from whoosh_novo_spark.operators.build import build_segment
from whoosh_novo_spark.operators.query import PLAN_CACHE_SIZE, Index, Searcher
from whoosh_novo_spark.operators.wand import search_wand
from whoosh_novo_spark.plans import ast
from whoosh_novo_spark.schema import FieldConfig, IndexConfig
from whoosh_novo_spark.sources.corpus import corpus_pandas
from whoosh_novo_spark.sources.segment_store import SegmentStore


@pytest.fixture(scope="module")
def searcher(spark, tmp_path_factory):
    pdf = corpus_pandas(600, seed=11, vocab_size=300)
    store = SegmentStore(str(tmp_path_factory.mktemp("plan_cache_ix")))
    cfg = IndexConfig(id_col="url", fields=(FieldConfig("text"),))
    df = spark.createDataFrame(
        list(zip(pdf["url"], pdf["text"])), "url string, text string"
    )
    build_segment(spark, df, cfg, store, partitions=4)
    return Searcher(Index(spark, store, cfg))


def _rows(df):
    return [(r["docid"], r["score"]) for r in df.collect()]


def test_repeat_search_same_results_fresh_dataset(searcher):
    q = ast.Or((ast.Term("text", "render"), ast.Term("text", "shade")))
    df1 = searcher.search(q, limit=7)
    r1 = _rows(df1)
    df2 = searcher.search(q, limit=7)
    r2 = _rows(df2)
    assert r1 == r2 and len(r1) == 7
    # distinct Dataset objects => distinct physical plans => fresh
    # shuffle ids on every execution (no intermediate reuse)
    assert df1._jdf is not df2._jdf
    assert not df1._jdf.equals(df2._jdf)


def test_limit_is_part_of_the_key(searcher):
    q = ast.Term("text", "render")
    assert len(_rows(searcher.search(q, limit=3))) == 3
    assert len(_rows(searcher.search(q, limit=9))) == 9
    assert len(_rows(searcher.search(q, limit=3))) == 3


def test_distinct_queries_distinct_plans(searcher):
    a = _rows(searcher.search(ast.Term("text", "render"), limit=5))
    b = _rows(searcher.search(ast.Term("text", "shade"), limit=5))
    assert a != b


def test_wand_cache_rank_identity(searcher):
    q = ast.Or(
        (ast.Term("text", "render"), ast.Term("text", "shade"), ast.Term("text", "texture"))
    )
    exact = _rows(searcher.search(q, limit=10))
    w1 = _rows(search_wand(searcher, q, limit=10, force_kernel=True))
    w2 = _rows(search_wand(searcher, q, limit=10, force_kernel=True))  # cached
    assert [d for d, _ in w1] == [d for d, _ in exact]
    assert [d for d, _ in w2] == [d for d, _ in exact]
    for (_, s1), (_, s2) in zip(w1, w2):
        assert s1 == s2


def test_wand_cost_route_below_cutoff(searcher):
    """Default routing: a small-corpus disjunction is below the pruned
    path's break-even posting volume, so search_wand plans the exact
    aggregation (no Python-kernel nodes) — results identical."""
    q = ast.Or((ast.Term("text", "render"), ast.Term("text", "shade")))
    routed = search_wand(searcher, q, limit=10)
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan
    assert _rows(routed) == _rows(searcher.search(q, limit=10))
    forced = search_wand(searcher, q, limit=10, force_kernel=True)
    fplan = forced._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in fplan
    assert [d for d, _ in _rows(forced)] == [d for d, _ in _rows(routed)]


def test_lru_keeps_a_hot_plan(searcher):
    """A plan that keeps being hit survives PLAN_CACHE_SIZE inserts of
    other plans; the least recently used entry goes instead."""
    s = Searcher(searcher.index)
    hot = ast.Term("text", "render")
    want = _rows(s.search(hot, limit=5))
    (hot_key, hot_plan), = s._plan_cache.items()
    filler = s.index.empty_scored()
    for i in range(PLAN_CACHE_SIZE):
        s._cached_plan(("filler", i), lambda: filler)
        if i % 128 == 127:
            s.search(hot, limit=5)  # hit: moves the plan to the recent end
    assert len(s._plan_cache) == PLAN_CACHE_SIZE
    assert s._plan_cache[hot_key] is hot_plan  # never evicted or rebuilt
    assert ("filler", 0) not in s._plan_cache
    assert _rows(s.search(hot, limit=5)) == want


def test_wand_plans_count_toward_the_bound(searcher):
    s = Searcher(searcher.index)
    q = ast.Or((ast.Term("text", "render"), ast.Term("text", "shade")))
    search_wand(s, q, limit=10)  # below the cutoff: also plans search(q)
    (wand_key,) = [k for k in s._plan_cache if k[0] == "wand"]
    filler = s.index.empty_scored()
    for i in range(PLAN_CACHE_SIZE):
        s._cached_plan(("filler", i), lambda: filler)
    assert len(s._plan_cache) == PLAN_CACHE_SIZE
    assert wand_key not in s._plan_cache  # the least recently used plan
