"""An independent BM25F oracle written from whoosh's scoring rules.

It never calls the program: it scores from the generator's own content
token lists, so a fault in tokenizing, posting construction, statistics,
merging or query compilation shows as a mismatch.

Rules (whoosh ``scoring.BM25F`` with its defaults):

- ``idf = ln(N / (df + 1)) + 1``, ``K1 = 1.2``, ``B = 0.75``;
- ``score = idf * tf * (K1 + 1) / (tf + K1 * ((1 - B) + B * dl / avgdl))``;
- ``dl`` is the field length stored as one byte: the smallest entry of
  the table ``round((1.033**n - 1) * 27)``, n = 0..255, not below the
  true length; ``avgdl`` is the segments' summed field length over
  ``N``, where a freshly built segment sums true lengths and a merged
  one sums the stored (quantized) lengths it copied, as whoosh's
  ``add_reader`` does;
- ``N``, ``df`` and the total length count every document still
  physically in a segment, tombstoned ones included, until a merge
  rewrites that segment; results contain live documents only.

Query semantics follow the program's documented parser mapping:
``a b`` / ``a AND b`` intersect and sum, ``OR`` unions and sums,
``a NOT b`` is ``And(a, Not(b))`` where the ``Not`` clause scores its
boost (1.0, whoosh's ``InverseMatcher``), a prefix sums the BM25 of every expanded
term, ``w~`` expands to terms within edit distance 1 sharing the first
letter (one expansion scores as that term, more score a constant 1.0),
and a two-word phrase needs adjacent positions and sums both words.
"""

from __future__ import annotations

import math
from bisect import bisect_left

import numpy as np

K1 = 1.2
B = 0.75
_B2L = [int(round((1.033**n - 1) * 27)) for n in range(256)]


def quantized_length(n: int) -> int:
    if n >= 106374:
        return _B2L[255]
    return _B2L[bisect_left(_B2L, n)]


def _within_one_edit(a: str, b: str) -> bool:
    la, lb = len(a), len(b)
    if abs(la - lb) > 1:
        return False
    if la == lb:
        return sum(x != y for x, y in zip(a, b)) <= 1
    if la > lb:
        a, b, la, lb = b, a, lb, la
    i = 0
    while i < la and a[i] == b[i]:
        i += 1
    return a[i:] == b[i + 1:]


class Oracle:
    """Physical documents with their segment, alive flag and term
    frequencies; statistics kept incrementally."""

    def __init__(self, words: np.ndarray):
        self.words = words  # vocabulary id -> word
        self._wid = {str(w): i for i, w in enumerate(words)}
        self.extra_ids: dict[str, int] = {}
        self.extra_words: list[str] = []
        self.urls: list[str] = []
        self.seg: list[str | None] = []
        self.alive: list[bool] = []
        self.present: list[bool] = []
        self.tf: list[dict[int, int]] = []
        self.tokens: list[np.ndarray] = []
        self.qlen: list[int] = []
        self.len_part: list[int] = []  # this doc's share of the total length
        self.postings: dict[int, set[int]] = {}
        self.live_by_url: dict[str, int] = {}
        self.n_docs = 0
        self.total_len = 0

    # ------------------------------------------------------------ terms
    def term_id(self, w: str) -> int | None:
        if w.startswith("qq"):
            return self.extra_ids.get(w)
        return self._wid.get(w)

    def word(self, tid: int) -> str:
        n = len(self.words)
        return str(self.words[tid]) if tid < n else self.extra_words[tid - n]

    def _extra(self, w: str) -> int:
        if w not in self.extra_ids:
            self.extra_ids[w] = len(self.words) + len(self.extra_words)
            self.extra_words.append(w)
        return self.extra_ids[w]

    # ------------------------------------------------------------ edits
    def add(self, pages, seg: str) -> None:
        """Index a batch of pages as one new segment; an URL already live
        is tombstoned first (update semantics)."""
        for url, toks, extra in zip(pages.urls, pages.tokens, pages.extra):
            old = self.live_by_url.get(url)
            if old is not None:
                self.alive[old] = False
            if extra is not None:
                toks = np.append(toks, np.int32(self._extra(extra)))
            i = len(self.urls)
            uniq, cnt = np.unique(toks, return_counts=True)
            tf = dict(zip(uniq.tolist(), cnt.tolist()))
            self.urls.append(url)
            self.seg.append(seg)
            self.alive.append(True)
            self.present.append(True)
            self.tf.append(tf)
            self.tokens.append(toks)
            self.qlen.append(quantized_length(len(toks)))
            self.len_part.append(len(toks))
            for t in tf:
                self.postings.setdefault(t, set()).add(i)
            self.live_by_url[url] = i
            self.n_docs += 1
            self.total_len += len(toks)

    def merge(self, old_segs: list[str], new_seg: str) -> int:
        """A merge rewrites the given segments into one, dropping their
        tombstoned documents.  Returns the live documents written."""
        olds = set(old_segs)
        written = 0
        for i, s in enumerate(self.seg):
            if s not in olds or not self.present[i]:
                continue
            self.total_len -= self.len_part[i]
            if self.alive[i]:
                self.seg[i] = new_seg
                self.len_part[i] = self.qlen[i]
                self.total_len += self.qlen[i]
                written += 1
                continue
            self.present[i] = False
            self.seg[i] = None
            self.n_docs -= 1
            for t in self.tf[i]:
                self.postings[t].discard(i)
        return written

    # ------------------------------------------------------------ stats
    def live_count(self) -> int:
        return len(self.live_by_url)

    def df(self, w: str) -> int:
        t = self.term_id(w)
        return 0 if t is None else len(self.postings.get(t, ()))

    def _term_scores(self, t: int) -> dict[int, float]:
        docs = self.postings.get(t)
        if not docs:
            return {}
        n = self.n_docs
        idf = math.log(n / (len(docs) + 1)) + 1.0
        avgdl = self.total_len / n
        out = {}
        for d in docs:
            if not self.alive[d]:
                continue
            tf = self.tf[d][t]
            dl = self.qlen[d]
            out[d] = idf * tf * (K1 + 1) / (tf + K1 * ((1 - B) + B * dl / avgdl))
        return out

    def _lexicon(self):
        for t, docs in self.postings.items():
            if docs:
                yield t, self.word(t)

    # ------------------------------------------------------------ queries
    def evaluate(self, q) -> dict[int, float]:
        """Live doc index -> score for a query structure (corpus.py)."""
        kind = q[0]
        if kind == "term":
            t = self.term_id(q[1])
            return {} if t is None else self._term_scores(t)
        if kind == "and":
            parts = [self.evaluate(c) for c in q[1]]
            keys = set(parts[0])
            for p in parts[1:]:
                keys &= set(p)
            return {d: sum(p[d] for p in parts) for d in keys}
        if kind == "or":
            out: dict[int, float] = {}
            for c in q[1]:
                for d, s in self.evaluate(c).items():
                    out[d] = out.get(d, 0.0) + s
            return out
        if kind == "andnot":
            a, b = self.evaluate(q[1]), self.evaluate(q[2])
            return {d: s + 1.0 for d, s in a.items() if d not in b}
        if kind == "prefix":
            out = {}
            for t, w in self._lexicon():
                if w.startswith(q[1]):
                    for d, s in self._term_scores(t).items():
                        out[d] = out.get(d, 0.0) + s
            return out
        if kind == "fuzzy":
            w = q[1]
            exp = [
                t for t, x in self._lexicon()
                if x[:1] == w[:1] and _within_one_edit(x, w)
            ]
            if len(exp) == 1:
                return self._term_scores(exp[0])
            out = {}
            for t in exp:
                for d, s in self._term_scores(t).items():
                    if self.alive[d]:
                        out[d] = 1.0
            return out
        if kind == "phrase":
            ta, tb = (self.term_id(w) for w in q[1])
            if ta is None or tb is None:
                return {}
            sa, sb = self._term_scores(ta), self._term_scores(tb)
            out = {}
            for d in set(sa) & set(sb):
                toks = self.tokens[d]
                pa = np.flatnonzero(toks[:-1] == ta)
                if np.any(toks[pa + 1] == tb):
                    out[d] = sa[d] + sb[d]
            return out
        raise ValueError(kind)

    def topk(self, q, k: int) -> tuple[list[tuple[str, float]], dict[str, float]]:
        """The k best (url, score) rows and every live match's score."""
        sc = self.evaluate(q)
        ranked = sorted(sc.items(), key=lambda x: (-x[1], self.urls[x[0]]))
        return [(self.urls[d], s) for d, s in ranked[:k]], {self.urls[d]: s for d, s in sc.items()}


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))


def compare(got: list[tuple[str, float]], oracle: Oracle, q, k: int) -> str | None:
    """None when the program's top-k (url, score) rows agree with the
    oracle; otherwise a one-line reason.  Where scores tie at the k-th
    place any tied document may fill the page, so the check is the score
    multiset plus the exact URL set strictly above the k-th score."""
    want, allsc = oracle.topk(q, k)
    if len(got) != len(want):
        return f"{len(got)} rows, oracle {len(want)}"
    gs = sorted((s for _, s in got), reverse=True)
    ws = [s for _, s in want]
    for a, b in zip(gs, ws):
        if not _close(a, b):
            return f"score multiset differs: {a!r} vs {b!r}"
    for url, s in got:
        o = allsc.get(url)
        if o is None or not _close(o, s):
            return f"{url} scored {s!r}, oracle {o!r}"
    if want:
        kth = ws[-1]
        cut = kth + 1e-9 * max(1.0, abs(kth))
        above_g = {u for u, s in got if s > cut}
        above_w = {u for u, s in want if s > cut}
        if above_g != above_w:
            return f"URLs above the k-th score differ ({len(above_g)} vs {len(above_w)})"
    return None
