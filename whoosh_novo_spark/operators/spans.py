"""Positional (span) queries: the general phrase kernel.

Reference: ``Phrase`` compiles to ``SpanNear2(terms, slop, ordered=True,
mindist=1)`` (positional.py:237-271); a doc matches when the iterative
span-combination yields a non-empty span set (spans.py:652-700), and the
score is the wrapped IntersectionMatcher's score — i.e. the SUM of the
phrase words' BM25 scores, counting duplicate words once per occurrence in
the phrase (spans.py:630-640: one matcher per phrase word).

Span algebra replicated exactly (spans.py:55-191):
- a term occurrence is the span (pos, pos)
- combining a with b keeps (a.start, b.end) when
  ``mindist <= dist <= slop`` with dist = 0 if overlapping else
  b.start - a.end (ordered), and ordered requires a.start <= b.start.

Spark plan: the docid-set prefilter is the flat AND single-scan path
(cheap, distributed); only candidate docs' position arrays flow into a
per-doc Arrow kernel (applyInPandas over docid groups).  Phrase words are
typically rare enough that candidates ≪ corpus; the kernel never sees
non-matching docs' positions.
"""

from __future__ import annotations

from bisect import bisect_left

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from whoosh_novo_spark.plans import ast


def _combine_spans(
    pos_lists: list[list[int]], slop: int, ordered: bool, mindist: int
) -> bool:
    """SpanNear2Matcher._get_spans (spans.py:652-700), boolean variant."""
    aspans = [(p, p) for p in pos_lists[0]]
    i = 1
    while i < len(pos_lists) and aspans:
        bspans = [(p, p) for p in pos_lists[i]]
        spans = set()
        starts = [b[0] for b in bspans]
        for a_start, a_end in aspans:
            start = a_start if ordered else max(0, a_start - slop)
            j = bisect_left(starts, start)
            while j < len(bspans):
                b_start, b_end = bspans[j]
                j += 1
                if b_end < a_start - slop or (ordered and a_start > b_start):
                    continue
                if b_start > a_end + slop:
                    break
                # distance_to (spans.py:169-175)
                if not (b_start > a_end or a_start > b_end):  # overlaps
                    dist = 0
                elif a_end < b_start:
                    dist = b_start - a_end
                else:
                    dist = a_start - b_end
                if mindist <= dist <= slop:
                    spans.add((min(a_start, b_start), max(a_end, b_end)))
        aspans = sorted(spans)
        i += 1
    return bool(aspans) and i == len(pos_lists)


def phrase_with_slop(searcher, q: ast.Phrase, stats, ordered: bool = True) -> DataFrame:
    """General phrase path (any slop, duplicate words).  ``ordered=False``
    is the Sequence(ordered=False) relaxation (positional.py:36-122):
    position gaps may run in either direction."""
    ix = searcher.index
    empty = ix.empty_scored()
    words = list(q.words)
    uniq = sorted(set(words))
    word_counts = {w: words.count(w) for w in uniq}
    if any(stats.get((q.fieldname, w)) is None for w in uniq):
        return empty  # Phrase shortcuts to Null on a missing word
                      # (positional.py:258-261)

    # stage 1: distributed prefilter — docs containing ALL distinct words,
    # with per-(doc,word) scores and positions in one scan
    cnt_map = F.create_map(
        *[F.lit(x) for w in uniq for x in (w, float(word_counts[w]))]
    )
    p = ix.postings_span(q.fieldname, terms=uniq).where(
        (F.col("field") == q.fieldname) & F.col("term").isin(uniq)
    )
    score = searcher._terms_score_col(
        q.fieldname, [(w, stats[(q.fieldname, w)], 1.0) for w in uniq]
    )
    # duplicate phrase words score once per phrase occurrence (one matcher
    # per word in SpanNear2Matcher)
    rows = p.select(
        "docid",
        "term",
        (score * cnt_map[F.col("term")]).alias("score"),
        "positions",
    )
    n = len(uniq)
    cand = (
        rows.groupBy("docid")
        .agg(
            F.count(F.lit(1)).alias("_nc"),
            F.sum("score").alias("score"),
            F.map_from_entries(
                F.collect_list(F.struct("term", "positions"))
            ).alias("posmap"),
        )
        .where(F.col("_nc") == n)
    )

    return _span_filter(cand, words, q.slop, ordered, 1)


def _span_filter(
    cand: DataFrame, words: list[str], slop: int, ordered: bool, mindist: int
) -> DataFrame:
    """mapInPandas filter: each candidate row carries all its position
    lists, so the span check is partition-local — no extra shuffle beyond
    the candidate aggregation itself."""

    def kernel(batches):
        for pdf in batches:
            keep = [
                _combine_spans(
                    [sorted(posmap[w]) for w in words], slop, ordered, mindist
                )
                for posmap in pdf["posmap"]
            ]
            yield pdf.loc[keep, ["docid", "score"]]

    return cand.select("docid", "score", "posmap").mapInPandas(
        kernel, "docid long, score double"
    )


# --------------------------------------------------------------------------
# General span algebra (spans.py:702-930): SpanOr / SpanNot / SpanContains /
# SpanBefore / SpanCondition / SpanFirst over term and SpanNear2 sources.
# One postings scan fetches positions+scores for every involved word; an
# Arrow kernel evaluates the span expression per candidate doc.

from dataclasses import dataclass, field as _field


class SpanExpr:
    def words(self) -> list[str]:
        raise NotImplementedError


@dataclass(frozen=True)
class STerm(SpanExpr):
    word: str

    def words(self):
        return [self.word]


@dataclass(frozen=True)
class SNear(SpanExpr):
    subs: tuple[SpanExpr, ...]
    slop: int = 1
    ordered: bool = True
    mindist: int = 1

    def words(self):
        return [w for s in self.subs for w in s.words()]


@dataclass(frozen=True)
class SOr(SpanExpr):
    subs: tuple[SpanExpr, ...]

    def words(self):
        return [w for s in self.subs for w in s.words()]


@dataclass(frozen=True)
class SNot(SpanExpr):
    a: SpanExpr
    b: SpanExpr

    def words(self):
        return self.a.words() + self.b.words()


@dataclass(frozen=True)
class SContains(SpanExpr):
    a: SpanExpr
    b: SpanExpr

    def words(self):
        return self.a.words() + self.b.words()


@dataclass(frozen=True)
class SBefore(SpanExpr):
    a: SpanExpr
    b: SpanExpr

    def words(self):
        return self.a.words() + self.b.words()


@dataclass(frozen=True)
class SCondition(SpanExpr):
    a: SpanExpr
    b: SpanExpr

    def words(self):
        return self.a.words() + self.b.words()


@dataclass(frozen=True)
class SFirst(SpanExpr):
    child: SpanExpr
    limit: int = 0

    def words(self):
        return self.child.words()


def _merge_near(span_lists, slop, ordered, mindist):
    """SpanNear2 combination returning the combined span list."""
    if any(s is None for s in span_lists):
        return None
    aspans = span_lists[0]
    i = 1
    while i < len(span_lists) and aspans:
        bspans = span_lists[i]
        out = set()
        starts = [b[0] for b in bspans]
        for a_start, a_end in aspans:
            start = a_start if ordered else max(0, a_start - slop)
            j = bisect_left(starts, start)
            while j < len(bspans):
                b_start, b_end = bspans[j]
                j += 1
                if b_end < a_start - slop or (ordered and a_start > b_start):
                    continue
                if b_start > a_end + slop:
                    break
                if not (b_start > a_end or a_start > b_end):
                    dist = 0
                elif a_end < b_start:
                    dist = b_start - a_end
                else:
                    dist = a_start - b_end
                if mindist <= dist <= slop:
                    out.add((min(a_start, b_start), max(a_end, b_end)))
        aspans = sorted(out)
        i += 1
    return aspans if i == len(span_lists) else []


def _overlaps(a, b):
    return not (b[0] > a[1] or a[0] > b[1])


def _eval_spans(expr: SpanExpr, posmap: dict) -> list | None:
    """Spans of expr in one doc; None = expr inactive (no match source).
    Mirrors the matcher _get_spans bodies cited per branch."""
    if isinstance(expr, STerm):
        ps = posmap.get(expr.word)
        return None if ps is None else [(p, p) for p in sorted(ps)]
    if isinstance(expr, SNear):  # spans.py:652-700
        subs = [_eval_spans(s, posmap) for s in expr.subs]
        return _merge_near(subs, expr.slop, expr.ordered, expr.mindist)
    if isinstance(expr, SOr):  # spans.py:733-753
        active = [sp for s in expr.subs if (sp := _eval_spans(s, posmap)) is not None]
        if not active:
            return None
        out = set()
        for sp in active:
            out.update(sp)
        return sorted(out)
    if isinstance(expr, SNot):  # spans.py:804-818: a-spans not overlapping b
        a = _eval_spans(expr.a, posmap)
        if a is None:
            return None
        b = _eval_spans(expr.b, posmap)
        if b is None:
            return a
        return [sa for sa in a if not any(_overlaps(sa, sb) for sb in b)]
    if isinstance(expr, SContains):  # spans.py:850-866: a containing some b
        a, b = _eval_spans(expr.a, posmap), _eval_spans(expr.b, posmap)
        if a is None or b is None:
            return None
        out = []
        for sa in a:
            for sb in b:
                if sa[0] > sb[1]:
                    continue
                if sa[1] < sb[0]:
                    break
                if sb[0] >= sa[0] and sb[1] <= sa[1]:  # is_within
                    out.append(sa)
                    break
        return out
    if isinstance(expr, SBefore):  # spans.py:898-900: a ending before min b
        a, b = _eval_spans(expr.a, posmap), _eval_spans(expr.b, posmap)
        if a is None or b is None:
            return None
        bmin = min(sb[0] for sb in b) if b else None
        if bmin is None:
            return []
        return [sa for sa in a if sa[1] < bmin]
    if isinstance(expr, SCondition):  # spans.py:920-930: a's spans, b present
        a, b = _eval_spans(expr.a, posmap), _eval_spans(expr.b, posmap)
        if a is None or b is None or not b:
            return None if (a is None or b is None) else []
        return a
    if isinstance(expr, SFirst):  # spans.py:340-352: spans ending <= limit
        c = _eval_spans(expr.child, posmap)
        if c is None:
            return None
        return [s for s in c if s[1] <= expr.limit]
    raise TypeError(type(expr))


def _eval_score(expr: SpanExpr, posmap: dict, scmap: dict) -> float:
    """Wrapped-matcher score per node: SpanNot wraps AndMaybe (a + b-if-
    present), SContains/SBefore/SCondition wrap Intersection (a + b),
    SOr sums active sides, SNear sums its word matchers."""
    if isinstance(expr, STerm):
        return scmap.get(expr.word, 0.0)
    if isinstance(expr, SNear):
        # active SNear == its intersection matcher is on the doc: all word
        # matchers present; each contributes its score
        return sum(_eval_score(s, posmap, scmap) for s in expr.subs)
    if isinstance(expr, SOr):
        # each child is span-filtered BEFORE the or-merge: only children
        # with non-empty spans on this doc are active (spans.py:32-52)
        return sum(
            _eval_score(s, posmap, scmap)
            for s in expr.subs
            if _eval_spans(s, posmap)
        )
    if isinstance(expr, SNot):
        a = _eval_score(expr.a, posmap, scmap)
        if _eval_spans(expr.b, posmap):
            a += _eval_score(expr.b, posmap, scmap)
        return a
    if isinstance(expr, (SContains, SBefore, SCondition)):
        return _eval_score(expr.a, posmap, scmap) + _eval_score(expr.b, posmap, scmap)
    if isinstance(expr, SFirst):
        return _eval_score(expr.child, posmap, scmap)
    raise TypeError(type(expr))


def span_search(searcher, fieldname: str, expr: SpanExpr, limit: int | None = 10) -> DataFrame:
    """Evaluate a span expression; returns (docid, score) ordered
    (score desc, docid asc)."""
    ix = searcher.index
    uniq = sorted(set(expr.words()))
    stats = searcher._cached_stats([(fieldname, w) for w in uniq])
    present = [w for w in uniq if (fieldname, w) in stats]
    if not present:
        return ix.empty_scored()
    p = ix.postings_span(fieldname, terms=present).where(
        (F.col("field") == fieldname) & F.col("term").isin(present)
    )
    score = searcher._terms_score_col(
        fieldname, [(w, stats[(fieldname, w)], 1.0) for w in present]
    )
    rows = p.select("docid", "term", score.alias("score"), "positions")
    cand = rows.groupBy("docid").agg(
        F.map_from_entries(F.collect_list(F.struct("term", "positions"))).alias("posmap"),
        F.map_from_entries(F.collect_list(F.struct("term", "score"))).alias("scmap"),
    )

    def kernel(batches):
        for pdf in batches:
            ids, scs = [], []
            for docid, posmap, scmap in zip(pdf["docid"], pdf["posmap"], pdf["scmap"]):
                pm = {k: list(v) for k, v in posmap.items()}
                spans = _eval_spans(expr, pm)
                if spans:
                    ids.append(docid)
                    scs.append(_eval_score(expr, pm, dict(scmap)))
            yield pd.DataFrame({"docid": ids, "score": scs})

    out = cand.mapInPandas(kernel, "docid long, score double")
    out = out.orderBy(F.desc("score"), F.asc("docid"))
    return out.limit(limit) if limit is not None else out


def spannear2(
    searcher,
    fieldname: str,
    words: list[str],
    slop: int = 1,
    ordered: bool = True,
    mindist: int = 1,
) -> DataFrame:
    """Direct SpanNear2 over term words (spans.py:530-700)."""
    q = ast.Phrase(fieldname, tuple(words), slop=slop)
    stats = searcher._cached_stats([(fieldname, w) for w in set(words)])
    ix = searcher.index
    if any(stats.get((fieldname, w)) is None for w in set(words)):
        return ix.empty_scored()
    if ordered and mindist == 1:
        return phrase_with_slop(searcher, q, stats)
    # unordered / custom mindist variant: same plan, different kernel params
    uniq = sorted(set(words))
    p = ix.postings_span(fieldname, terms=uniq).where(
        (F.col("field") == fieldname) & F.col("term").isin(uniq)
    )
    score = searcher._terms_score_col(
        fieldname, [(w, stats[(fieldname, w)], 1.0) for w in uniq]
    )
    rows = p.select("docid", "term", score.alias("score"), "positions")
    cand = (
        rows.groupBy("docid")
        .agg(
            F.count(F.lit(1)).alias("_nc"),
            F.sum("score").alias("score"),
            F.map_from_entries(F.collect_list(F.struct("term", "positions"))).alias("posmap"),
        )
        .where(F.col("_nc") == len(uniq))
    )

    return _span_filter(cand, list(words), slop, ordered, mindist)
