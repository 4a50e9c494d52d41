"""Mixed-language build routing (VERDICT r4 task #4): one corpus, the
analyzer dispatched per row by the lang column into virtual per-language
fields ("text@de"), with BM25 stats (idf dc, avgfl, df) kept per
(field, language) — scores over a virtual field must EXACTLY match a
single-language build over just that language's docs."""

from __future__ import annotations

import pytest

from whoosh_novo_spark.operators.build import build_segment
from whoosh_novo_spark.operators.query import Index, Searcher
from whoosh_novo_spark.plans import ast
from whoosh_novo_spark.schema import FieldConfig, IndexConfig
from whoosh_novo_spark.sources.segment_store import SegmentStore

DE = [
    "das wasser ist tief und das wasser ist kalt",
    "kalte wasser laufen durch den dunklen wald heute",
    "der wald ist still und die baeume sind alt",
    "alte haeuser stehen am ufer des wassers im tal",
    "im tal liegt nebel ueber dem kalten wasser",
    "die kinder laufen schnell durch das hohe gras",
]
EN = [
    "the water is deep and the water is cold",
    "cold waters run through the dark forest today",
    "the forest is quiet and the trees are old",
    "old houses stand on the banks of the water in the valley",
    "fog lies over the cold water in the valley",
    "the children run fast through the tall grass",
    "running water carves the valley stone by stone",
]


def _rows():
    rows = [(f"d{i:03d}", t, "de") for i, t in enumerate(DE)]
    rows += [(f"e{i:03d}", t, "en") for i, t in enumerate(EN)]
    return rows


def _scores_by_key(spark, store, cfg, seg_field, query_field, term):
    """search Term -> {id_col key: score} via the docmap."""
    from whoosh_novo_spark.operators.build import read_docmap

    ix = Index(spark, store, cfg)
    s = Searcher(ix)
    res = s.search(ast.Term(query_field, term), limit=100).collect()
    seg = ix.manifest.segments[0]
    dm = {
        r["docid"]: r[cfg.id_col]
        for r in read_docmap(spark, store, seg, columns=["docid", cfg.id_col]).collect()
    }
    return {dm[r["docid"]]: r["score"] for r in res}


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("lang_routing")
    rows = _rows()
    # mixed routed build
    mixed_cfg = IndexConfig(
        id_col="rid", fields=(FieldConfig("text", lang_routed=True),)
    )
    mixed_store = SegmentStore(str(base / "mixed"))
    docs = spark.createDataFrame(rows, "rid string, text string, lang string")
    build_segment(spark, docs, mixed_cfg, mixed_store, partitions=4)
    # single-language builds (the parity oracles)
    singles = {}
    for code in ("de", "en"):
        cfg = IndexConfig(
            id_col="rid", fields=(FieldConfig("text", analyzer=f"lang_{code}"),)
        )
        st = SegmentStore(str(base / code))
        sub = docs.where(docs.lang == code)
        build_segment(spark, sub, cfg, st, partitions=2)
        singles[code] = (st, cfg)
    return mixed_store, mixed_cfg, singles


@pytest.mark.parametrize(
    "code,term",
    [("de", "wass"), ("en", "water"), ("de", "wald"), ("en", "forest"),
     ("de", "kalt"), ("en", "cold")],
)
def test_score_parity_with_single_language_build(spark, built, code, term):
    """Same query term against the mixed build's virtual field and the
    single-language build: identical (doc, score) maps — idf uses the
    per-language doc count, avgfl the per-language length total.
    (Query terms are pre-stemmed forms: lang_de stems wasser->wass.)"""
    mixed_store, mixed_cfg, singles = built
    st, cfg = singles[code]
    mixed = _scores_by_key(spark, mixed_store, mixed_cfg, "text", f"text@{code}", term)
    single = _scores_by_key(spark, st, cfg, "text", "text", term)
    assert mixed and set(mixed) == set(single)
    for k in mixed:
        assert mixed[k] == pytest.approx(single[k], rel=1e-12), (k, mixed[k], single[k])


def test_per_language_stats(spark, built):
    """The routed manifest carries per-virtual-field doc counts and
    per-language length totals."""
    mixed_store, mixed_cfg, _ = built
    ix = Index(spark, mixed_store, mixed_cfg)
    assert ix.doc_count_for("text@de") == len(DE)
    assert ix.doc_count_for("text@en") == len(EN)
    assert ix.doc_count_all == len(DE) + len(EN)
    assert ix.lang_variants("text") == ["text@de", "text@en"]
    # avgfl denominators are per language
    m = ix.manifest
    assert m.avg_field_length("text@de") == m.field_length("text@de") / len(DE)
    assert m.avg_field_length("text@en") == m.field_length("text@en") / len(EN)


def test_cross_language_or_query(spark, built):
    """Cross-language search = Or over the virtual fields; result union
    of both languages' hits (stems differ per language: water stays
    'water' in en, wasser stems to 'wass' in de)."""
    mixed_store, mixed_cfg, _ = built
    ix = Index(spark, mixed_store, mixed_cfg)
    s = Searcher(ix)
    q = ast.Or((ast.Term("text@de", "wass"), ast.Term("text@en", "water")))
    got = s.search(q, limit=50).collect()
    de_only = s.search(ast.Term("text@de", "wass"), limit=50).collect()
    en_only = s.search(ast.Term("text@en", "water"), limit=50).collect()
    assert {r["docid"] for r in got} == {r["docid"] for r in de_only} | {
        r["docid"] for r in en_only
    }


def test_null_lang_routes_to_und(spark, tmp_path):
    """Rows with a NULL/empty lang land in '<field>@und' analyzed by the
    degradation chain (tokenize+lower) instead of failing the build."""
    rows = [("a", "Some Untagged TEXT here", None), ("b", "mehr wasser", "de")]
    docs = spark.createDataFrame(rows, "rid string, text string, lang string")
    cfg = IndexConfig(id_col="rid", fields=(FieldConfig("text", lang_routed=True),))
    store = SegmentStore(str(tmp_path / "und"))
    build_segment(spark, docs, cfg, store, partitions=2)
    ix = Index(spark, store, cfg)
    assert set(ix.lang_variants("text")) == {"text@und", "text@de"}
    s = Searcher(ix)
    # "some" survives (no stop filter in the degradation chain), lowercased
    assert s.search(ast.Term("text@und", "some"), limit=10).count() == 1
    assert ix.doc_count_for("text@und") == 1


def test_lang_routed_rejects_payload_formats(spark):
    from whoosh_novo_spark.operators.build import _analyze_partition

    cfg = IndexConfig(
        id_col="rid",
        fields=(FieldConfig("text", lang_routed=True, boosts=True),),
    )
    with pytest.raises(ValueError, match="lang_routed"):
        _analyze_partition(cfg, want_positions=False)


def test_merge_preserves_per_language_counts(spark, tmp_path):
    """Compacting routed segments must recompute field_doc_count from
    the merged (tombstone-purged) docmap — without it, doc_count_for
    falls back to doc_count_all and inflates per-language idf."""
    from whoosh_novo_spark.operators.merge import delete_docs, merge_segments

    cfg = IndexConfig(id_col="rid", fields=(FieldConfig("text", lang_routed=True),))
    store = SegmentStore(str(tmp_path / "m"))
    rows = _rows()
    half = len(rows) // 2
    docs1 = spark.createDataFrame(rows[:half], "rid string, text string, lang string")
    docs2 = spark.createDataFrame(rows[half:], "rid string, text string, lang string")
    build_segment(spark, docs1, cfg, store, partitions=2)
    build_segment(spark, docs2, cfg, store, partitions=2)
    ix = Index(spark, store, cfg)
    assert ix.doc_count_for("text@de") == len(DE)
    assert ix.doc_count_for("text@en") == len(EN)

    # delete one de doc, then fully optimize: counts follow the purge
    dm = ix.docmap(columns=["docid", "rid"])
    delete_docs(spark, store, dm.where(dm.rid == "d000").select("docid"))
    merge_segments(spark, store, cfg)
    ix2 = Index(spark, store, cfg)
    assert len(ix2.manifest.segments) == 1
    assert ix2.doc_count_for("text@de") == len(DE) - 1
    assert ix2.doc_count_for("text@en") == len(EN)
    assert ix2.lang_variants("text") == ["text@de", "text@en"]
    # queries on virtual fields still work over the compacted segment
    s = Searcher(ix2)
    hits = s.search(ast.Term("text@en", "water"), limit=50).count()
    assert hits >= 3


def test_parser_virtual_field_syntax(spark, built):
    """The query language reaches virtual fields with zero parser
    changes: 'text@de:wass' explicit-field syntax, a virtual default
    field, and a multifield parser over Index.lang_variants for
    cross-language search."""
    from whoosh_novo_spark.plans.parser import QueryParser

    mixed_store, mixed_cfg, _ = built
    ix = Index(spark, mixed_store, mixed_cfg)
    s = Searcher(ix)

    q = QueryParser("text@en").parse("water valley")
    assert s.search(q, limit=10).count() >= 1

    q2 = QueryParser("text@en").parse("text@de:wass")
    got_explicit = {r["docid"] for r in s.search(q2, limit=50).collect()}
    got_direct = {
        r["docid"] for r in s.search(ast.Term("text@de", "wass"), limit=50).collect()
    }
    assert got_explicit == got_direct and got_explicit

    mf = QueryParser(None, multifield=ix.lang_variants("text"))
    q3 = mf.parse("wass OR water")
    cross = {r["docid"] for r in s.search(q3, limit=50).collect()}
    assert got_direct <= cross  # de hits present alongside en hits


def test_randomized_routed_parity(spark, tmp_path):
    """Randomized sweep (property-style): random bilingual corpora from
    a shared vocabulary — for EVERY term in each language's index, the
    mixed routed build's (doc, score) map over text@<code> must equal
    the single-language build's.  Catches stats-denominator and routing
    mistakes beyond the fixed-text cases above."""
    import random

    rng = random.Random(77)
    vocab = ["wasser", "wald", "kalt", "stein", "licht", "berg", "fluss",
             "water", "forest", "cold", "stone", "light", "mountain"]
    for trial in range(3):
        rows = []
        for i in range(rng.randint(8, 20)):
            lang = rng.choice(["de", "en"])
            n = rng.randint(0, 12)  # empty docs count in dc but not postings
            text = " ".join(rng.choice(vocab) for _ in range(n))
            rows.append((f"t{trial}r{i:03d}", text, lang))
        if not any(r[2] == "de" for r in rows) or not any(r[2] == "en" for r in rows):
            continue
        docs = spark.createDataFrame(rows, "rid string, text string, lang string")
        mixed_cfg = IndexConfig(
            id_col="rid", fields=(FieldConfig("text", lang_routed=True),)
        )
        mixed_store = SegmentStore(str(tmp_path / f"mx{trial}"))
        build_segment(spark, docs, mixed_cfg, mixed_store, partitions=2)
        for code in ("de", "en"):
            cfg = IndexConfig(
                id_col="rid", fields=(FieldConfig("text", analyzer=f"lang_{code}"),)
            )
            st = SegmentStore(str(tmp_path / f"s{trial}{code}"))
            build_segment(
                spark, docs.where(docs.lang == code), cfg, st, partitions=2
            )
            # query every term the single build indexed
            terms = {
                r["term"]
                for r in Index(spark, st, cfg).terms().select("term").collect()
            }
            for term in sorted(terms):
                mixed = _scores_by_key(
                    spark, mixed_store, mixed_cfg, "text", f"text@{code}", term
                )
                single = _scores_by_key(spark, st, cfg, "text", "text", term)
                assert set(mixed) == set(single), (trial, code, term)
                for k in mixed:
                    assert mixed[k] == pytest.approx(single[k], rel=1e-12), (
                        trial, code, term, k,
                    )
