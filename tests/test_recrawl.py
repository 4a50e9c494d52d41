"""Recrawl dedup: keep the latest capture per canonical URL.

The first pass of every multi-snapshot web pipeline (reference has no
counterpart — its index assumes one row per document; this is the
ingest stage that MAKES that true for a Common-Crawl-style corpus).
"""

from __future__ import annotations

import datetime as dt

import pytest

from whoosh_novo_spark.operators.dedup import keep_latest_crawl


def _ts(day: int, hour: int = 0):
    return dt.datetime(2026, 1, day, hour, 0, 0)


@pytest.fixture(scope="module")
def crawl(spark):
    rows = [
        # three snapshots of the same page; newest wins
        ("http://example.com/a", _ts(1), b"h1", "old a", "en"),
        ("http://example.com/a", _ts(2), b"h2", "mid a", "en"),
        ("http://example.com/a", _ts(3), b"h3", "new a", "en"),
        # tracking-param recrawl variants collapse under canonicalization
        ("http://example.com/b?utm_source=feed", _ts(1), b"h4", "old b", "en"),
        ("http://EXAMPLE.com/b", _ts(5), b"h5", "new b", "en"),
        # distinct pages survive independently
        ("http://example.com/c?q=1", _ts(2), b"h6", "only c", "de"),
        # exact (url, ts) tie — deterministic winner
        ("http://example.com/d", _ts(4), b"h7", "tie d x", "en"),
        ("http://example.com/d", _ts(4), b"h8", "tie d y", "en"),
        # null timestamp loses to a real one
        ("http://example.com/e", None, b"h9", "null e", "en"),
        ("http://example.com/e", _ts(1), b"ha", "dated e", "en"),
    ]
    return spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )


def test_keeps_latest_per_canonical_url(crawl):
    out = keep_latest_crawl(crawl)
    by_text = {r.text for r in out.collect()}
    assert "new a" in by_text and "old a" not in by_text and "mid a" not in by_text
    assert "new b" in by_text and "old b" not in by_text
    assert "only c" in by_text
    assert "dated e" in by_text and "null e" not in by_text
    # exactly one survivor per canonical url: a, b, c, d, e
    assert out.count() == 5


def test_schema_and_original_url_preserved(crawl):
    out = keep_latest_crawl(crawl)
    assert out.columns == crawl.columns
    assert dict(out.dtypes) == dict(crawl.dtypes)
    # the survivor keeps its ORIGINAL url text (not the canonical form)
    b = [r for r in out.collect() if r.text == "new b"]
    assert b[0].url == "http://EXAMPLE.com/b"


def test_tie_break_deterministic_and_partition_invariant(crawl):
    outs = []
    for nparts in (1, 3, 7):
        out = keep_latest_crawl(crawl.repartition(nparts))
        outs.append(sorted((r.url, r.text) for r in out.collect()))
    assert outs[0] == outs[1] == outs[2]
    # the (url, ts) tie resolved to exactly one of the two rows
    d = [t for _, t in outs[0] if t.startswith("tie d")]
    assert len(d) == 1


def test_no_canonicalize_keeps_url_variants(crawl):
    out = keep_latest_crawl(crawl, canonicalize=False)
    # utm variant and case variant are now distinct keys
    texts = {r.text for r in out.collect()}
    assert "old b" in texts and "new b" in texts


def test_explicit_tie_col(spark):
    rows = [
        ("http://x.com/p", _ts(1), "v1", 3),
        ("http://x.com/p", _ts(1), "v2", 7),
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts timestamp, text string, pri int")
    out = keep_latest_crawl(df, tie_col="pri").collect()
    assert len(out) == 1 and out[0].text == "v2"


def test_plan_is_mapside_combinable_no_window(crawl):
    plan = keep_latest_crawl(crawl)._jdf.queryExecution().executedPlan().toString()
    assert "partial_max" in plan, plan
    assert "Window" not in plan, plan


def test_pipeline_stage_composes(crawl):
    from whoosh_novo_spark.operators.pipeline import clean_corpus

    out = clean_corpus(
        crawl.withColumn("doc_id", crawl.url),
        id_col="doc_id",
        stages=("url_normalize", "latest_crawl"),
    )
    assert out.count() == 5
