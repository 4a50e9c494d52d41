"""Phrase (span) queries vs the reference, and batch == per-query parity."""

from __future__ import annotations

import pandas as pd
import pytest

from whoosh_novo_spark.functions.analysis import standard_analyze_batch
from whoosh_novo_spark.operators.batch import search_batch
from whoosh_novo_spark.operators.build import build_segment
from whoosh_novo_spark.operators.query import Index, Searcher
from whoosh_novo_spark.plans import ast
from whoosh_novo_spark.schema import FieldConfig, IndexConfig
from whoosh_novo_spark.sources.corpus import corpus_pandas
from whoosh_novo_spark.sources.segment_store import SegmentStore

# reference test fixture (tests/test_searching.py:594-606)
MUFFET_ROWS = [
    ("a", "Little Miss Muffet sat on a tuffet"),
    ("d", "Gibberish blonk falunk miss muffet sat tuffet garbonzo"),
    ("e", "Blah blah blah pancakes"),
    ("f", "Little miss muffet little miss muffet"),
]


@pytest.fixture(scope="module")
def muffet(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("muffet_ix"))
    store = SegmentStore(path)
    config = IndexConfig(id_col="id", fields=(FieldConfig("text", positions=True),))
    df = spark.createDataFrame(MUFFET_ROWS, "id string, text string")
    build_segment(spark, df, config, store, partitions=2)
    ix = Index(spark, store, config)
    return ix, Searcher(ix)


@pytest.fixture(scope="module")
def muffet_oracle(oracle_cls):
    return oracle_cls(sorted(MUFFET_ROWS))


def _ids(ix, rows):
    """map our docids back to the id column."""
    dm = {r["docid"]: r["id"] for r in ix.docmap(columns=["docid", "id"]).collect()}
    return [(dm[r["docid"]], r["score"]) for r in rows]


PHRASES = [
    {"words": ["miss", "muffet"], "slop": 1},
    {"words": ["miss", "muffet", "sat"], "slop": 1},
    {"words": ["little", "miss", "muffet"], "slop": 1},
    {"words": ["miss", "sat"], "slop": 2},
    {"words": ["little", "muffet"], "slop": 3},
    {"words": ["little", "miss", "muffet", "little", "miss", "muffet"], "slop": 1},
    {"words": ["muffet", "miss"], "slop": 1},  # wrong order
    {"words": ["blah", "pancakes"], "slop": 1},
]


@pytest.mark.parametrize("spec", PHRASES, ids=lambda s: "+".join(s["words"]) + f"@{s['slop']}")
def test_phrase_matches_reference(muffet, muffet_oracle, spec):
    ix, searcher = muffet
    q = ast.Phrase("text", tuple(spec["words"]), slop=spec["slop"])
    ours = _ids(ix, searcher.search(q, limit=10).collect())
    theirs = muffet_oracle.query(
        muffet_oracle.make_query({"type": "phrase", **spec}), limit=10
    )
    assert [d for d, _ in ours] == [d for d, _ in theirs], (spec, ours, theirs)
    for (_, s1), (_, s2) in zip(ours, theirs):
        assert s1 == pytest.approx(s2, rel=1e-9)


def test_phrase_on_corpus(spark, whoosh_ref, oracle_cls, tmp_path_factory):
    """Phrase over the synthetic corpus, phrase chosen from real doc text."""
    pdf = corpus_pandas(120, seed=3, vocab_size=300).sort_values("url").reset_index(drop=True)
    tb = standard_analyze_batch(pd.Series([pdf["text"][0]]))
    words = [str(t) for t in tb.term[:2]]
    path = str(tmp_path_factory.mktemp("cph"))
    store = SegmentStore(path)
    config = IndexConfig(id_col="url", fields=(FieldConfig("text", positions=True),))
    df = spark.createDataFrame(list(zip(pdf["url"], pdf["text"])), "url string, text string")
    build_segment(spark, df, config, store, partitions=2)
    ix = Index(spark, store, config)
    searcher = Searcher(ix)
    oracle = oracle_cls([(f"{i:06d}", t) for i, t in enumerate(pdf["text"])])
    ours = searcher.search(ast.Phrase("text", tuple(words)), limit=10).collect()
    theirs = oracle.query(
        oracle.make_query({"type": "phrase", "words": words}), limit=10
    )
    assert [int(r["docid"]) for r in ours] == [int(d) for d, _ in theirs]
    for r, (_, s2) in zip(ours, theirs):
        assert r["score"] == pytest.approx(s2, rel=1e-9)
    assert len(ours) > 0  # the phrase must actually occur


def test_batch_equals_per_query(spark, tmp_path_factory):
    pdf = corpus_pandas(200, seed=5, vocab_size=400)
    path = str(tmp_path_factory.mktemp("bat"))
    store = SegmentStore(path)
    config = IndexConfig(id_col="url", fields=(FieldConfig("text"),))
    df = spark.createDataFrame(list(zip(pdf["url"], pdf["text"])), "url string, text string")
    build_segment(spark, df, config, store, partitions=2)
    searcher = Searcher(Index(spark, store, config))
    T = lambda w: ast.Term("text", w)  # noqa: E731
    qs = {
        "t1": T("render"),
        "a1": ast.And((T("render"), T("shade"))),
        "o1": ast.Or((T("render"), T("shade"), T("texture"))),
        "d1": ast.DisjunctionMax((T("render"), T("shade"))),
        "missing": T("zzzznope"),
        "a_missing": ast.And((T("render"), T("zzzznope"))),
    }
    batch = search_batch(searcher, qs, limit=10).collect()
    got: dict[str, list] = {}
    for r in batch:
        got.setdefault(r["qid"], []).append((r["rank"], r["docid"], r["score"]))
    for qid, q in qs.items():
        solo = searcher.search(q, limit=10).collect()
        brows = sorted(got.get(qid, []))
        assert [d for _, d, _ in brows] == [r["docid"] for r in solo], qid
        for (_, _, s1), r in zip(brows, solo):
            assert s1 == pytest.approx(r["score"], rel=1e-12)
