"""Driver-local lexicon reads against their distributed twin.

``Index.term_stats`` and the small Prefix/TermRange expansion read the
terms table in-process with pyarrow (``Index._lexicon_local``);
WNS_NO_LOCAL_STATS=1 is the kill switch that sends both to Spark.  On a
multi-segment index with tombstones the two routes must give the same
stats, ranks and scores, and a tombstone must leave df and cf unchanged
(whoosh counts deleted docs in the statistics until a merge, SURVEY
§1.4).
"""

from __future__ import annotations

import pytest

from whoosh_novo_spark.operators.build import build_segment
from whoosh_novo_spark.operators.merge import delete_docs
from whoosh_novo_spark.operators.query import Index, Searcher
from whoosh_novo_spark.plans import ast
from whoosh_novo_spark.schema import FieldConfig, IndexConfig
from whoosh_novo_spark.sources.corpus import corpus_pandas
from whoosh_novo_spark.sources.segment_store import SegmentStore

CFG = IndexConfig(id_col="url", fields=(FieldConfig("text"),))
PAIRS = [("text", w) for w in ("render", "shade", "texture", "zzzznope")]
QUERIES = [
    ast.Term("text", "render"),
    ast.Or((ast.Term("text", "render"), ast.Term("text", "shade"))),
    ast.Prefix("text", "s"),
    ast.Prefix("text", "re"),
    ast.TermRange("text", "r", "sh"),
    ast.TermRange("text", "r", "sh", startexcl=True, endexcl=True, constantscore=False),
]


@pytest.fixture(scope="module")
def tombstoned(spark, tmp_path_factory):
    """Three segments, then tombstones in each; returns the store and the
    term stats read before the delete."""
    pdf = corpus_pandas(240, seed=47, vocab_size=250).sort_values("url")
    store = SegmentStore(str(tmp_path_factory.mktemp("local_stats_ix")))
    for b in range(3):
        sl = pdf.iloc[b * 80 : (b + 1) * 80]
        df = spark.createDataFrame(
            list(zip(sl["url"], sl["text"])), "url string, text string"
        )
        build_segment(spark, df, CFG, store, partitions=2)
    before = Index(spark, store, CFG).term_stats(PAIRS)
    render_docs = [
        r["docid"]
        for r in Searcher(Index(spark, store, CFG))
        .search(ast.Term("text", "render"), limit=3)
        .collect()
    ]
    dead = sorted({2, 85, 170, *render_docs})
    delete_docs(spark, store, spark.createDataFrame([(d,) for d in dead], "docid long"))
    m = store.read_manifest()
    assert len(m.segments) == 3 and m.has_tombstones
    return store, before


def _spark_lookups(monkeypatch) -> list:
    """Record each distributed term-dictionary read."""
    calls: list = []
    orig = Index.terms_span

    def spy(self, *a, **kw):
        calls.append(a)
        return orig(self, *a, **kw)

    monkeypatch.setattr(Index, "terms_span", spy)
    return calls


@pytest.mark.parametrize("kill", [False, True])
def test_term_stats_same_on_both_routes(spark, tombstoned, monkeypatch, kill):
    store, before = tombstoned
    calls = _spark_lookups(monkeypatch)
    if kill:
        monkeypatch.setenv("WNS_NO_LOCAL_STATS", "1")
    else:
        monkeypatch.delenv("WNS_NO_LOCAL_STATS", raising=False)
    got = Index(spark, store, CFG).term_stats(PAIRS)
    assert bool(calls) == kill  # the switch picks the route
    # tombstones leave df/cf (and the whole TermStats) unchanged
    assert got == before
    assert set(got) == set(PAIRS[:3])
    assert all(st.df > 0 and st.cf >= st.df for st in got.values())


def test_searches_same_on_both_routes(spark, tombstoned, monkeypatch):
    store, _ = tombstoned
    monkeypatch.delenv("WNS_NO_LOCAL_STATS", raising=False)
    local = Searcher(Index(spark, store, CFG))
    for q in QUERIES[2:]:  # the small expansions take the local reader
        assert local.index.expand_terms_local(q) is not None, q
    local_rows = {q: local.search(q, limit=20).collect() for q in QUERIES}

    monkeypatch.setenv("WNS_NO_LOCAL_STATS", "1")
    dist = Searcher(Index(spark, store, CFG))
    for q in QUERIES[2:]:
        assert dist.index.expand_terms_local(q) is None, q
    deleted = {r["docid"] for r in dist.index.tombstones().collect()}
    for q in QUERIES:
        a = local_rows[q]
        b = dist.search(q, limit=20).collect()
        assert a, q
        assert [r["docid"] for r in a] == [r["docid"] for r in b], q
        for ra, rb in zip(a, b):
            assert ra["score"] == rb["score"], q
        assert not deleted & {r["docid"] for r in a}, q
