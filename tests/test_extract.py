"""HTML -> text extraction (sources/extract.py): the north-rule
per-row invariant — byte-identical extracted text per url — gated
row-for-row against the corpus synthesizer's stored text column at two
partition counts, plus handwritten markup/entity cases and a plan gate
proving the expr path stays JVM-side (no Python eval node)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from whoosh_novo_spark.sources.corpus import synthesize_corpus
from whoosh_novo_spark.sources.extract import (
    extract_text_expr,
    extract_text_kernel,
    ingest_html,
)


@pytest.mark.parametrize("parts", [3, 13])
def test_corpus_byte_identity_expr(spark, parts):
    docs = synthesize_corpus(spark, n_docs=2500, n_partitions=parts, seed=99)
    bad = (
        docs.withColumn("got", extract_text_expr("html"))
        .where(F.col("got") != F.col("text"))
        .count()
    )
    assert bad == 0


def test_corpus_byte_identity_kernel_and_parity(spark):
    docs = synthesize_corpus(spark, n_docs=1200, n_partitions=4, seed=5)
    out = docs.select(
        "text",
        extract_text_expr("html").alias("e"),
        extract_text_kernel("html").alias("k"),
    )
    assert out.where((F.col("e") != F.col("text")) | (F.col("k") != F.col("text"))).count() == 0


CASES = [
    # (html, expected)
    ("<html><body>hello world</body></html>", "hello world"),
    # block tags join with ONE newline, runs collapsed
    ("<p>alpha</p>\n\n<p>beta</p><div>gamma</div>", "alpha\nbeta\ngamma"),
    # inline markup must not split words
    ("<b>re</b>brand and <a href='/x'>links</a>", "rebrand and links"),
    # script/style subtrees dropped with content, comments dropped
    (
        "<head><script>var x = '<p>no</p>';</script><style>p{color:red}</style>"
        "</head><body><!-- hidden -->shown</body>",
        "shown",
    ),
    ("<SCRIPT src='a.js'>alert(1)</SCRIPT>kept", "kept"),
    # named core entities (both paths)
    ("a &lt;tag&gt; &amp; &quot;quotes&quot; &#39;s", "a <tag> & \"quotes\" 's"),
    # double-escaped source: &amp;lt; is the literal text "&lt;"
    ("x &amp;lt; y", "x &lt; y"),
    # self-closing / attribute-heavy tags
    ('<br/><img src="i.png" alt="a<b"/>end', "end"),
    # leading/trailing whitespace and newline runs trimmed
    ("<body>\n\t  padded  \n</body>", "padded"),
]


@pytest.mark.parametrize("html,want", CASES)
def test_markup_cases_both_paths(spark, html, want):
    df = spark.createDataFrame([(html.encode(),)], "html binary")
    row = df.select(
        extract_text_expr("html").alias("e"),
        extract_text_kernel("html").alias("k"),
    ).first()
    assert row["e"] == want, ("expr", row["e"])
    assert row["k"] == want, ("kernel", row["k"])


def test_numeric_entities_kernel_only(spark):
    """&#233;/&#x41; need chr() folding — the kernel decodes them, the
    Catalyst path documents leaving them; rows needing numeric refs are
    routed with full_entities=True."""
    df = spark.createDataFrame([("caf&#233; &#x41;".encode(),)], "html binary")
    row = df.select(
        extract_text_kernel("html").alias("k"),
        extract_text_expr("html").alias("e"),
    ).first()
    assert row["k"] == "café A"
    assert row["e"] == "caf&#233; &#x41;"


def test_ingest_html_builds_index_from_html_only(spark, tmp_path):
    """End-to-end: drop the stored text, re-derive it from html via
    ingest_html, build a segment, and get the SAME term stats as the
    stored-text build — extraction is ingest-grade, not display-grade."""
    from whoosh_novo_spark.operators.build import build_segment
    from whoosh_novo_spark.operators.query import Index
    from whoosh_novo_spark.schema import FieldConfig, IndexConfig
    from whoosh_novo_spark.sources.segment_store import SegmentStore

    docs = synthesize_corpus(spark, n_docs=600, n_partitions=3, seed=17)
    cfg = IndexConfig(id_col="url", fields=(FieldConfig("text"),), stored_cols=())

    s1 = SegmentStore(str(tmp_path / "ix_stored"))
    build_segment(spark, docs, cfg, s1, partitions=4)
    s2 = SegmentStore(str(tmp_path / "ix_html"))
    build_segment(spark, ingest_html(docs.drop("text")), cfg, s2, partitions=4)

    t1 = Index(spark, s1, cfg).terms().select("field", "term", "df", "cf")
    t2 = Index(spark, s2, cfg).terms().select("field", "term", "df", "cf")
    assert t1.exceptAll(t2).count() == 0 and t2.exceptAll(t1).count() == 0


def test_expr_path_stays_jvm_side(spark):
    docs = synthesize_corpus(spark, n_docs=64, n_partitions=1, seed=1)
    plan = (
        ingest_html(docs.drop("text"))
        .select("url", "text")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ingest_title_goldens(spark):
    from whoosh_novo_spark.sources.extract import ingest_title

    rows = [
        ("p1", "<html><head><title> Solar &amp; Wind — Report </title></head></html>"),
        ("p2", "<title>first</title><title>second ignored</title>"),
        ("p3", '<TITLE class="x">caps\nand\nnewlines</TITLE>'),
        ("p4", "<title><b>nested</b> markup</title>"),
        ("p5", "<!-- <title>commented</title> --><p>no title</p>"),
        ("p6", "<p>none at all</p>"),
    ]
    df = spark.createDataFrame(rows, "url string, html string")
    got = {r["url"]: r["title"] for r in ingest_title(df).collect()}
    assert got == {
        "p1": "Solar & Wind — Report",
        "p2": "first",
        "p3": "caps and newlines",
        "p4": "nested markup",
        "p5": "",
        "p6": "",
    }
    # binary html path + plan stays JVM-only
    bdf = spark.createDataFrame(
        [("b1", "<title>bytes title</title>".encode())], "url string, html binary"
    )
    out = ingest_title(bdf)
    assert out.collect()[0]["title"] == "bytes title"
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan


def test_title_field_bm25f_boost(spark, tmp_path):
    """The schema whoosh's docs model: title + body fields, title terms
    boosted — a title hit outranks a body-only hit for the same term."""
    from whoosh_novo_spark.operators.build import build_segment
    from whoosh_novo_spark.operators.query import Index, Searcher
    from whoosh_novo_spark.plans import ast
    from whoosh_novo_spark.schema import FieldConfig, IndexConfig
    from whoosh_novo_spark.sources.extract import ingest_title
    from whoosh_novo_spark.sources.segment_store import SegmentStore

    pages = spark.createDataFrame(
        [
            ("u_title", "<html><title>quantum widgets</title>"
             "<body>plain body words here</body></html>"),
            ("u_body", "<html><title>other things</title>"
             "<body>quantum appears only in body text</body></html>"),
        ],
        "url string, html string",
    )
    docs = ingest_title(pages)
    from whoosh_novo_spark.sources.extract import ingest_html

    docs = ingest_html(docs).select("url", "title", "text")
    store = SegmentStore(str(tmp_path / "ix"))
    cfg = IndexConfig(
        id_col="url",
        fields=(FieldConfig("title", boost=3.0), FieldConfig("text")),
    )
    build_segment(spark, docs, cfg, store, partitions=2)
    s = Searcher(Index(spark, store, cfg))
    q = ast.Or((ast.Term("title", "quantum"), ast.Term("text", "quantum")))
    hits = s.search(q, limit=5).join(s.index.docmap(["docid", "url"]), "docid")
    rows = hits.orderBy(F.desc("score")).collect()
    assert [r["url"] for r in rows] == ["u_title", "u_body"]
