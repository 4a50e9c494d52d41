"""BPE pre-token estimator (functions/textstats.bpe_pretoken_count): the
Java-regex piece count matches a Python twin of the GPT-2 pre-tokenizer
on hand-split examples and on plain text, and never counts more pieces
than the twin — so it is a lower bound on any learned BPE tokenizer's
count, since merges only join bytes within a piece."""

from __future__ import annotations

import random
import re

import pytest

from whoosh_novo_spark.functions.textstats import bpe_pretoken_count

# GPT-2's pre-tokenizer in Python's re dialect: letters, digits,
# punctuation runs and underscore runs each take one optional leading
# space; whitespace-only pieces are not counted.
_PY_RX = re.compile(
    r"'s|'t|'re|'ve|'m|'ll|'d"
    r"| ?[^\W\d_]+| ?\d+| ?[^\s\w]+| ?_+"
    r"|\s+(?!\S)|\s+"
)


def pretokenize(text: str) -> list[str]:
    return [p for p in _PY_RX.findall(text) if not p.isspace()]


def _estimates(spark, texts):
    df = spark.createDataFrame(list(enumerate(texts)), "id long, text string")
    got = df.select("id", bpe_pretoken_count("text").alias("n")).collect()
    return {r["id"]: r["n"] for r in got}


def test_pretokenize_pieces(spark):
    cases = {
        "We've 42 cats!": ["We", "'ve", " 42", " cats", "!"],
        # underscores and punctuation keep their leading space;
        # whitespace-only pieces are dropped
        "a _b c.": ["a", " _", "b", " c", "."],
        "": [],
    }
    texts = list(cases)
    est = _estimates(spark, texts)
    for i, text in enumerate(texts):
        assert pretokenize(text) == cases[text]
        assert est[i] == len(cases[text]), text


@pytest.fixture(scope="module")
def corpus():
    rng = random.Random(11)
    vocab = ["spark", "index", "token", "merge", "corpus", "byte", "pair", "the", "and"]
    return [" ".join(rng.choice(vocab) for _ in range(40)) + f" doc{i}" for i in range(60)]


def test_pretoken_estimator_is_a_lower_bound(spark, corpus):
    """The two regexes agree on plain text; the Java one keeps '_' in
    its punctuation runs, so on mixed runs it can only count fewer."""
    odd = ["snake_case_name!", "a__b ?!_x", "we'll   see_ 42_"]
    texts = corpus + odd
    est = _estimates(spark, texts)
    for i, text in enumerate(texts):
        if i < len(corpus):
            assert est[i] == len(pretokenize(text)), text
        else:
            assert est[i] <= len(pretokenize(text)), text
