"""C4 cleaning rules (Raffel et al. 2020, "Exploring the Limits of
Transfer Learning..." §2.2 — public): the most-cited heuristic recipe
for web text, complementary to the Gopher repetition suite
(functions/repetition.py) and the learned quality classifier
(functions/quality_clf.py).

Published rules implemented, all as JVM-side expressions:

line level (applied first, surviving lines are re-joined):
- keep only lines ending in a terminal punctuation mark
  (. ! ? or closing quote after one);
- keep only lines with at least ``min_words_per_line`` words (5 in
  the paper);
- drop any line containing the word "javascript" (case-insensitive).

page level (applied to the line-filtered text):
- drop pages with fewer than ``min_sentences`` sentences (3 in the
  paper; sentence count approximated as terminal-punctuation count,
  documented — C4 used a sentence splitter, the approximation only
  differs on abbreviation-heavy text and this is a bulk filter);
- drop pages containing "lorem ipsum" (case-insensitive);
- drop pages containing a curly brace (code, not prose);
- optionally drop pages containing any word of a caller-supplied
  ``blocklist`` (C4 used a public bad-words list; none is shipped
  here — pass your own; matching is on lowercased word boundaries).

Scale notes (100 TB lens): line filtering uses Catalyst array HOFs
over the SPLIT LINES of a page — tens of elements, not the per-token
arrays whose interpreted evaluation forced the shingler into an Arrow
kernel (operators/dedup.py); page predicates are plain regexp/contains
expressions.  The whole filter is a map-side projection, no shuffle,
no Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# terminal punctuation, optionally followed by a closing quote/bracket
_TERMINAL_RX = r"""[.!?]["')\]]?\s*$"""
_SENTENCE_RX = r"""[.!?]"""


def c4_clean_lines(
    col: Column | str, min_words_per_line: int = 5
) -> Column:
    """The line-level C4 pass: text with only the retained lines, joined
    by newline (may be empty when nothing survives)."""
    c = F.col(col) if isinstance(col, str) else col
    lines = F.split(F.coalesce(c, F.lit("")), "\n")
    kept = F.filter(
        lines,
        lambda l: F.trim(l).rlike(_TERMINAL_RX)
        & (F.size(F.split(F.trim(l), r"\s+")) >= F.lit(min_words_per_line))
        & ~F.lower(l).contains("javascript"),
    )
    return F.concat_ws("\n", kept)


def c4_filter(
    docs: DataFrame,
    text_col: str = "text",
    min_words_per_line: int = 5,
    min_sentences: int = 3,
    blocklist: list[str] | None = None,
) -> DataFrame:
    """Applies the full C4 recipe: line filtering rewrites ``text_col``,
    then page-level predicates drop rows.  Page predicates run on the
    line-FILTERED text (the paper's order — a page must have 3 real
    sentences left after its chrome is gone)."""
    cleaned = c4_clean_lines(F.col(text_col), min_words_per_line)
    out = docs.withColumn(text_col, cleaned)
    t = F.col(text_col)
    keep = (
        (F.regexp_count(t, F.lit(_SENTENCE_RX)) >= F.lit(min_sentences))
        & ~F.lower(t).contains("lorem ipsum")
        & ~t.contains("{")
    )
    if blocklist:
        words = F.split(F.lower(t), r"\W+")
        bad = F.array(*[F.lit(w.lower()) for w in blocklist])
        keep = keep & (F.size(F.array_intersect(words, bad)) == 0)
    return out.where(keep)
