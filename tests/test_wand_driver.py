"""The driver route of ``search_wand`` against its distributed twins.

Below ``DRIVER_KERNEL_MAX_POSTINGS`` a flat BM25F query runs the block-max
kernel in-process over a pyarrow read of its blocks and tombstones and
comes back as a ``LocalTableScan``.  On single-segment, multi-segment,
tombstoned, merged and federated indexes it must give the docids of
``Searcher.search`` and of the Spark kernel (``force_kernel=True``) in
the same order, with scores within rel 1e-12; it must start no Spark
job, never touch the plan cache, recompute on every call, and leave
every case it does not cover to the old routes.
"""

from __future__ import annotations

import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from whoosh_novo_spark.operators import wand
from whoosh_novo_spark.operators.build import build_segment
from whoosh_novo_spark.operators.federate import FederatedIndex
from whoosh_novo_spark.operators.merge import delete_docs, merge_segments
from whoosh_novo_spark.operators.query import Index, Searcher
from whoosh_novo_spark.operators.wand import search_wand
from whoosh_novo_spark.plans import ast
from whoosh_novo_spark.plans.weighting import TF_IDF
from whoosh_novo_spark.schema import FieldConfig, IndexConfig
from whoosh_novo_spark.sources.corpus import corpus_pandas
from whoosh_novo_spark.sources.segment_store import SegmentStore

CFG = IndexConfig(id_col="url", fields=(FieldConfig("text"),), block_limit=32)
T = lambda w: ast.Term("text", w)  # noqa: E731
OR3 = ast.Or((T("render"), T("shade"), T("texture")))

QUERIES = [
    ("term", T("render"), 10),
    ("term_head", T("w00001"), 10),
    ("or3", OR3, 10),
    ("or_head", ast.Or((T("w00000"), T("w00001"), T("render"))), 5),
    ("and2", ast.And((T("render"), T("shade"))), 10),
    ("or_absent", ast.Or((T("render"), T("zzzabsent"))), 10),
    ("and_absent", ast.And((T("render"), T("zzzabsent"))), 10),
    ("term_absent", T("zzzabsent"), 10),
    ("k_over_matches", ast.Or((T("tiedword"), T("render"))), 5000),
    ("ties", T("tiedword"), 3),
]


def _corpus(n: int, seed: int) -> pd.DataFrame:
    """Synthetic pages plus six identical ones, so ``tiedword`` scores
    tie and the docid tie-break decides the ranks."""
    pdf = corpus_pandas(n, seed=seed, vocab_size=300)
    ties = pd.DataFrame(
        {
            "url": [f"https://tie.example/{i}" for i in range(6)],
            "text": ["tiedword render mesh tiedword"] * 6,
        }
    )
    return pd.concat([pdf[["url", "text"]], ties], ignore_index=True)


def _build(spark, path: str, pdf: pd.DataFrame, n_segments: int) -> SegmentStore:
    store = SegmentStore(path)
    step = -(-len(pdf) // n_segments)
    for i in range(n_segments):
        sl = pdf.iloc[i * step : (i + 1) * step]
        df = spark.createDataFrame(
            list(zip(sl["url"], sl["text"])), "url string, text string"
        )
        build_segment(spark, df, CFG, store, partitions=2)
    return store


@pytest.fixture(scope="module")
def indexes(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("wand_driver")
    one = _build(spark, str(base / "one"), _corpus(300, 5), 1)
    three = _build(spark, str(base / "three"), _corpus(360, 6), 3)

    shutil.copytree(three.path, str(base / "tomb"))
    tomb = SegmentStore(str(base / "tomb"))
    top = [
        r["docid"]
        for r in Searcher(Index(spark, tomb, CFG)).search(OR3, limit=3).collect()
    ]
    dead = sorted({*top, 4, 130, 250})
    delete_docs(spark, tomb, spark.createDataFrame([(d,) for d in dead], "docid long"))

    shutil.copytree(tomb.path, str(base / "merged"))
    merged = SegmentStore(str(base / "merged"))
    merge_segments(spark, merged, CFG)

    out = {
        "one": Index(spark, one, CFG),
        "three": Index(spark, three, CFG),
        "tomb": Index(spark, tomb, CFG),
        "merged": Index(spark, merged, CFG),
        "federated": FederatedIndex(spark, [one, tomb], CFG),
    }
    assert len(out["three"].manifest.segments) == 3
    assert out["tomb"].manifest.has_tombstones and dead
    assert len(out["merged"].manifest.segments) == 1
    assert out["federated"].manifest.has_tombstones
    return out


def _rows(df):
    return [(int(r["docid"]), float(r["score"])) for r in df.collect()]


def _same(got, want):
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, a), (_, b) in zip(got, want):
        assert a == pytest.approx(b, rel=1e-12)


def _is_local(df) -> bool:
    return "LocalTableScan" in df._jdf.queryExecution().executedPlan().toString()


def _last_doc_query(ix) -> ast.Query:
    """An Or of the words of the highest live docid, so the top of the
    docid range must be searched for the full match set."""
    s = Searcher(ix)
    live = ix.docmap(columns=["docid", "url"], apply_deletes=True)
    last = live.orderBy("docid", ascending=False).first()["docid"]
    words = (
        ix.postings()
        .where(F.col("docid") == last)
        .select("term")
        .orderBy("term")
        .limit(3)
        .collect()
    )
    q = ast.Or(tuple(T(r["term"]) for r in words))
    assert last in {d for d, _ in _rows(s.search(q, limit=None))}
    return q


@pytest.mark.parametrize("name", ["one", "three", "tomb", "merged", "federated"])
def test_driver_route_equals_its_twins(indexes, name):
    ix = indexes[name]
    queries = QUERIES + [("last_docid", _last_doc_query(ix), 5000)]
    for label, q, k in queries:
        s = Searcher(ix)
        got = search_wand(s, q, limit=k)
        assert _is_local(got), label
        rows = _rows(got)
        _same(rows, _rows(s.search(q, limit=k)))
        _same(rows, _rows(search_wand(s, q, limit=k, force_kernel=True)))
        if label == "k_over_matches":
            assert 6 <= len(rows) < k
        if label == "ties":
            tied = _rows(s.search(T("tiedword"), limit=None))
            assert len({sc for _, sc in tied}) < len(tied)  # scores do tie
            _same(rows, tied[:3])


def test_deleted_docs_never_return(indexes):
    ix = indexes["tomb"]
    dead = {int(r["docid"]) for r in ix.tombstones().collect()}
    for _, q, k in QUERIES:
        got = {d for d, _ in _rows(search_wand(Searcher(ix), q, limit=k))}
        assert not (got & dead)


def test_driver_route_starts_no_spark_job(spark, indexes):
    sc = spark.sparkContext
    for name in ("tomb", "federated"):
        s = Searcher(indexes[name])  # cold stats: the lookup is local too
        gid = f"wand-driver-{name}"
        sc.setJobGroup(gid, gid)
        try:
            rows = _rows(search_wand(s, OR3, limit=10))
            empty = _rows(search_wand(s, T("zzzabsent"), limit=10))
        finally:
            sc.setJobGroup("idle", "idle")
        assert rows and not empty
        assert list(sc.statusTracker().getJobIdsForGroup(gid)) == []


def test_driver_route_skips_the_plan_cache_and_recomputes(indexes, monkeypatch):
    s = Searcher(indexes["three"])
    calls = []
    kernel = wand._bucket_kernel

    def counting(*a, **kw):
        calls.append(1)
        return kernel(*a, **kw)

    monkeypatch.setattr(wand, "_bucket_kernel", counting)
    before = dict(s._plan_cache)
    d1 = search_wand(s, OR3, limit=10)
    d2 = search_wand(s, OR3, limit=10)
    assert len(calls) == 2 and d1 is not d2
    assert dict(s._plan_cache) == before
    assert _rows(d1) == _rows(d2)


def _old_route(s, q, limit=10, **kw):
    """search_wand through the plan cache: the wand key is cached and
    the result is the exact plan's."""
    got = search_wand(s, q, limit=limit, **kw)
    assert any(isinstance(k, tuple) and k[0] == "wand" for k in s._plan_cache)
    assert not _is_local(got)
    _same(_rows(got), _rows(s.search(q, limit=limit)))


def test_no_local_listing_falls_back(indexes, monkeypatch):
    ix = indexes["three"]
    monkeypatch.setattr(ix, "_local_files", lambda table: None)
    _old_route(Searcher(ix), OR3)


def test_tombstones_not_local_fall_back(indexes, monkeypatch):
    ix = indexes["tomb"]
    real = ix._local_files
    monkeypatch.setattr(
        ix, "_local_files", lambda table: None if table == "tombstones" else real(table)
    )
    _old_route(Searcher(ix), OR3)


def test_postings_at_the_bound_fall_back(indexes, monkeypatch):
    ix = indexes["three"]
    st = Searcher(ix)._cached_stats([("text", t.text) for t in OR3.children])
    sum_df = sum(v.df for v in st.values())
    monkeypatch.setattr(wand, "DRIVER_KERNEL_MAX_POSTINGS", sum_df)
    _old_route(Searcher(ix), OR3)
    monkeypatch.setattr(wand, "DRIVER_KERNEL_MAX_POSTINGS", sum_df + 1)
    assert _is_local(search_wand(Searcher(ix), OR3, limit=10))


@pytest.mark.parametrize(
    "case",
    ["weighting", "boost", "limit_none", "force_kernel", "multiterm", "non_flat",
     "unknown_field"],
)
def test_named_fallbacks_take_the_old_route(indexes, case):
    ix = indexes["three"]
    s = Searcher(ix)
    if case == "weighting":
        _old_route(Searcher(ix, weighting=TF_IDF()), OR3)
    elif case == "boost":
        _old_route(s, ast.Or((T("render"), ast.Term("text", "shade", boost=2.0))))
    elif case == "limit_none":
        _old_route(s, OR3, limit=None)
    elif case == "force_kernel":
        _old_route(s, OR3, force_kernel=True)
    elif case == "multiterm":
        _old_route(s, OR3, multiterm=True)
    elif case == "non_flat":
        _old_route(s, ast.AndNot(OR3, T("shade")))
    else:  # Searcher.search matches nothing on an undeclared field
        q = ast.Or((ast.Term("nofield", "render"), ast.Term("nofield", "x")))
        assert _rows(search_wand(s, q, limit=10)) == []
        assert ("wand", q, 10, None, False, False) in s._plan_cache


def test_empty_result_is_a_local_relation(spark, indexes):
    sc = spark.sparkContext
    e = indexes["one"].empty_scored()
    assert _is_local(e)
    sc.setJobGroup("empty-scored", "empty-scored")
    try:
        assert e.collect() == []
    finally:
        sc.setJobGroup("idle", "idle")
    assert list(sc.statusTracker().getJobIdsForGroup("empty-scored")) == []


def test_federated_reads_local_files_per_store(indexes):
    fi = indexes["federated"]
    files = fi._local_files("blocks")
    shifts = sorted({sh for _, sh in files})
    assert shifts == [0, indexes["one"].manifest.next_docid]
    tomb = fi._local_files("tombstones")
    assert tomb and {sh for _, sh in tomb} == {indexes["one"].manifest.next_docid}
    # the lexicon reader now serves a federation in-process
    pairs = [("text", "render"), ("text", "tiedword")]
    local = fi._lexicon_local(
        [("field", "in", ["text"]), ("term", "in", ["render", "tiedword"])],
        lambda f, t: (f, t) in set(pairs),
        {"pairs": pairs},
    )
    assert local is not None and set(local) == set(pairs)
    a = indexes["one"].term_stats(pairs)
    b = indexes["tomb"].term_stats(pairs)
    for p in pairs:
        assert local[p].df == a[p].df + b[p].df
        assert local[p].cf == a[p].cf + b[p].cf
