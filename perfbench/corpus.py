"""Seeded generators for pages and query strings.

The benchmark owns its inputs: the program under test receives only the
rows made here, never anything from the package's own corpus helpers, so a
change to the program cannot change what it is measured on.

Every page is generated as a list of *content token ids* (the tokens the
standard analyzer keeps) and rendered into text with mixed case,
punctuation, stop words and one-letter noise that the analyzer must
remove.  The oracle scores from the id lists, never from the text.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field

import numpy as np

# whoosh's default English stop list; the renderer sprinkles these into
# the text and the analyzer must drop them.
STOP_WORDS = (
    "a an and are as at be by can for from have if in is it may not of on "
    "or tbd that the this to us we when will with yet you your"
).split()
# one-letter tokens the analyzer drops by its minimum token length (2)
NOISE = list("bcdefghjklmnopqrsuvwxz")

_CONSONANTS = "bdfgklmnprstvz"
_VOWELS = "aeiou"
VOCAB_SIZE = 30000
ZIPF_S = 1.0


def _letters(n: int) -> str:
    """Non-negative int -> lowercase letters (bijective base 26)."""
    out = ""
    n += 1
    while n:
        n, r = divmod(n - 1, 26)
        out = chr(97 + r) + out
    return out


def marker(kind: str, n: int) -> str:
    """A word no vocabulary word can equal (vocabulary words never
    contain 'q'): kind is 'mark' (pages of one snapshot) or 'ver' (pages
    of one update batch)."""
    return f"qq{kind}{_letters(n)}"


class Vocabulary:
    """Fixed vocabulary of consonant-vowel words with Zipf frequencies.

    Independent of the seed, so a word's rank (and the analyzer work it
    causes) is the same in every run; the seed only changes which words
    each page draws."""

    def __init__(self, size: int = VOCAB_SIZE):
        syl = [c + v for c in _CONSONANTS for v in _VOWELS]
        stops = set(STOP_WORDS)
        words = [a + b for a in syl for b in syl]
        words += [a + b + c for a in syl for b in syl for c in syl]
        words = [w for w in words if w not in stops]
        # fixed shuffle so rank is unrelated to alphabetical order
        order = np.random.default_rng(20240229).permutation(len(words))[:size]
        self.words = np.array([words[i] for i in order], dtype=object)
        p = np.arange(1, size + 1, dtype=np.float64) ** -ZIPF_S
        self.cdf = np.cumsum(p / p.sum())
        self.cap = np.array([w.capitalize() for w in self.words], dtype=object)
        self.upper = np.array([w.upper() for w in self.words], dtype=object)

    def draw(self, rng: np.random.Generator, n: int) -> np.ndarray:
        return np.minimum(
            np.searchsorted(self.cdf, rng.random(n)), len(self.words) - 1
        ).astype(np.int32)


@dataclass
class Pages:
    """A batch of generated pages: rendered rows plus the content token
    ids the oracle uses.  ``extra[i]`` is a marker word appended as the
    page's last content token (or None)."""

    urls: list[str]
    texts: list[str]
    tokens: list[np.ndarray]  # int32 vocabulary ids per page, in order
    extra: list[str | None]
    ts: list[dt.datetime] = field(default_factory=list)

    def arrow(self):
        import pyarrow as pa

        html = [
            f"<html><head><title>{t[:40]}</title></head><body><p>{t[:120]}</p></body></html>".encode()
            for t in self.texts
        ]
        return pa.table(
            {
                "url": pa.array(self.urls, pa.string()),
                "warc_ts": pa.array(self.ts, pa.timestamp("us")),
                "html": pa.array(html, pa.binary()),
                "text": pa.array(self.texts, pa.string()),
                "lang": pa.array(["en"] * len(self.urls), pa.string()),
            }
        )


ICEBERG_FIELDS = [
    ("url", "string"),
    ("warc_ts", "timestamp"),
    ("html", "binary"),
    ("text", "string"),
    ("lang", "string"),
]


class PageGenerator:
    """Common-Crawl-style pages: skewed (log-normal) lengths, Zipf words,
    rendered with case changes, punctuation, stop words and noise."""

    def __init__(self, vocab: Vocabulary, rng: np.random.Generator, median_len: int):
        self.vocab = vocab
        self.rng = rng
        self.median_len = median_len

    def url(self, page_id: int) -> str:
        host = (page_id * 7919) % 613
        return f"https://site{host:03d}.example/{_letters(page_id)}/p{page_id}.html"

    def pages(self, page_ids: list[int], extra: str | None) -> Pages:
        rng, v = self.rng, self.vocab
        n = len(page_ids)
        lens = np.clip(
            rng.lognormal(np.log(self.median_len), 0.7, n).astype(np.int64), 8, 4000
        )
        ids = v.draw(rng, int(lens.sum()))
        tokens = np.split(ids, np.cumsum(lens)[:-1])
        # a marker, when given, is each page's last content token
        texts = [self._render(t, extra) for t in tokens]
        base = dt.datetime(2024, 1, 1)
        ts = [base + dt.timedelta(seconds=int(s)) for s in rng.integers(0, 86400 * 90, n)]
        return Pages(
            [self.url(p) for p in page_ids], texts, tokens, [extra] * n, ts
        )

    def _render(self, ids: np.ndarray, extra: str | None) -> str:
        rng, v = self.rng, self.vocab
        n = len(ids)
        case = rng.random(n)
        words = v.words[ids]
        m = case >= 0.8
        words[m] = np.where(case[m] < 0.95, v.cap[ids[m]], v.upper[ids[m]])
        punct = rng.random(n)
        # each word takes at most one mark; only the marked words are rebuilt
        for lo, hi, before, after in ((0, 0.04, "", ","), (0.04, 0.07, "", "."),
                                      (0.07, 0.08, "(", ")"), (0.08, 0.085, "", "!\n")):
            m = (punct >= lo) & (punct < hi)
            words[m] = before + words[m] + after
        # interleave stop words (~1 per 4 content words) and noise letters
        n_stop = n // 4
        n_noise = n // 40
        fill = np.concatenate(
            [
                np.array(STOP_WORDS, dtype=object)[rng.integers(0, len(STOP_WORDS), n_stop)],
                np.array(NOISE, dtype=object)[rng.integers(0, len(NOISE), n_noise)],
            ]
        )
        # insertion slots: each filler goes before content token k; a
        # stable sort keeps the content order intact
        at = rng.integers(0, n + 1, len(fill))
        slot = np.concatenate([np.arange(n) * 2 + 1, at * 2])
        allw = np.concatenate([words, fill])
        out = allw[np.argsort(slot, kind="stable")]
        text = " ".join(out.tolist())
        if extra is not None:
            text += " — " + extra.capitalize() + "."
        return text


# ------------------------------------------------------------------ queries
# Query structures are tuples the oracle evaluates; the program receives
# only the rendered string.
#   ("term", w) ("and", [q..]) ("or", [q..]) ("andnot", a, b)
#   ("prefix", p) ("fuzzy", w) ("phrase", [w1, w2])


def render(q) -> str:
    kind = q[0]
    if kind == "term":
        return q[1].capitalize() if len(q[1]) % 3 == 0 else q[1]
    if kind == "and":
        # alternate explicit AND and the parser's default (And) group
        sep = " AND " if sum(map(ord, q[1][0][1])) % 2 else " "
        return sep.join(render(c) for c in q[1])
    if kind == "or":
        return " OR ".join(render(c) for c in q[1])
    if kind == "andnot":
        return f"{render(q[1])} NOT {render(q[2])}"
    if kind == "prefix":
        return q[1] + "*"
    if kind == "fuzzy":
        return q[1] + "~"
    if kind == "phrase":
        return '"' + " ".join(q[1]) + '"'
    raise ValueError(kind)


class QueryGenerator:
    """Seeded query structures over the vocabulary.  Terms are drawn
    log-uniformly from a band of Zipf ranks (RANKS), frequent enough that
    most queries match and narrow enough that one seed's queries cost
    about what another's do."""

    RANKS = (60, 600)

    def __init__(self, vocab: Vocabulary, rng: np.random.Generator, corpus_tokens):
        self.v = vocab
        self.rng = rng
        self.corpus_tokens = corpus_tokens  # id arrays phrases are taken from

    def _word(self, lo: int | None = None, hi: int | None = None) -> str:
        lo, hi = lo or self.RANKS[0], hi or self.RANKS[1]
        r = int(np.exp(self.rng.uniform(np.log(lo), np.log(hi))))
        return str(self.v.words[r])

    def _terms(self, n: int) -> list:
        ws: list[str] = []
        while len(ws) < n:
            w = self._word()
            if w not in ws:
                ws.append(w)
        return [("term", w) for w in ws]

    def make(self, kind: str):
        rng = self.rng
        if kind == "term":
            return ("term", self._word())
        if kind == "and":
            return ("and", self._terms(2))
        if kind == "or":
            return ("or", self._terms(3))
        if kind == "andnot":
            a, b = self._terms(2)
            return ("andnot", a, b)
        if kind == "prefix":
            # two syllables of a three-syllable word: a small expansion
            while True:
                w = self._word(hi=4000)
                if len(w) == 6:
                    return ("prefix", w[:4])
        if kind == "fuzzy":
            w = self._word()
            i = int(rng.integers(1, len(w)))
            alt = _VOWELS if w[i] in _VOWELS else _CONSONANTS
            c = alt[int(rng.integers(0, len(alt)))]
            return ("fuzzy", w[:i] + c + w[i + 1:])
        if kind == "phrase":
            # an adjacent pair taken from a real page, so phrases match
            while True:
                toks = self.corpus_tokens[int(rng.integers(0, len(self.corpus_tokens)))]
                if len(toks) >= 2:
                    i = int(rng.integers(0, len(toks) - 1))
                    lo = self.RANKS[0]
                    if toks[i] != toks[i + 1] and lo <= toks[i] < 4000 and lo <= toks[i + 1] < 4000:
                        return ("phrase", [str(self.v.words[toks[i]]), str(self.v.words[toks[i + 1]])])
        raise ValueError(kind)
