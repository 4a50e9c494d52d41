"""Exact-substring deduplication (Lee et al. 2021, "Deduplicating
Training Data Makes Language Models Better" — public): remove every
repeated occurrence of any sufficiently long span, KEEPING the first,
across the whole corpus.  This is the finest-grained member of the
dedup family (document-level exact_duplicates, line-level
remove_duplicate_lines, near-dup MinHash/SimHash — all in this repo);
it catches the long quoted passage pasted into
thousands of otherwise-distinct pages.

The published tool builds a corpus-wide suffix array on one large
machine; the Spark-native formulation here works at TOKEN granularity
(documented approximation — span boundaries snap to tokens, which for
a ``min_tokens`` of 50 changes nothing material) and never builds a
global index:

1. one Arrow pass per doc: tokenize, rolling ``min_tokens``-gram hash
   over md5 token values (globally consistent across docs — the
   winnowing technique of Schleimer et al. 2003, vectorized);
2. explode (id, pos, hash); rank every occurrence of each hash by
   (id, pos) — rank 1 is the occurrence the corpus keeps (the
   paper's keep-one semantics); occurrences with rank > 1 mark their
   ``min_tokens`` token positions as covered;
3. per doc, paint the covered intervals (delta array + cumsum) in a
   final Arrow kernel that re-tokenizes WITH char offsets and rebuilds
   the text from the original bytes of the kept token runs (kept
   regions are byte-identical; inter-run whitespace collapses to one
   space, documented).

A span of length L >= min_tokens that repeats produces L-min_tokens+1
repeated grams at every later occurrence — their painted intervals
tile the whole span, so the entire later copy is removed while the
first copy's grams (all rank 1) leave it untouched.

Scale notes (100 TB lens): keep-first is computed as a map-side-
combinable ``min(struct(id, pos))`` + ``count`` aggregation per gram
hash, NOT a rank window — a boilerplate gram repeated across a large
fraction of the corpus (the 1M probe plants one with 300k occurrences;
at 10^12 docs it would be billions) is a single unsplittable task
under ``row_number().over(Window.partitionBy("h"))`` because AQE can
split skewed JOINS but never windows, while partial aggregation
reduces the hot key on the map side.  Occurrences then join back
against only the hashes with count > 1 (tiny after cleaning — AQE
broadcasts it when small, skew-splits it when not).  The remaining
shuffle keys are the md5-uniform gram hash (agg) and the doc id
(interval collection); covered-position lists per doc are bounded by
the doc's own token count.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

_TOKEN_RX = re.compile(r"\S+")

_BASE = np.uint64(1099511628211)


def _token_hashes(toks: list[str], cache: dict) -> np.ndarray:
    for t in toks:
        if t not in cache:
            cache[t] = int.from_bytes(hashlib.md5(t.encode()).digest()[:8], "big")
    return np.fromiter((cache[t] for t in toks), dtype=np.uint64, count=len(toks))


def _gram_hashes(th: np.ndarray, k: int) -> np.ndarray:
    n = th.shape[0] - k + 1
    if n <= 0:
        return np.empty(0, dtype=np.int64)
    h = np.zeros(n, dtype=np.uint64)
    for j in range(k):
        h = h * _BASE + th[j : j + n]
    return h.view(np.int64)


def _gram_udf(k: int):
    def fn(s: pd.Series) -> pd.Series:
        cache: dict = {}
        out = []
        for text in s.fillna(""):
            toks = _TOKEN_RX.findall(text)
            out.append(_gram_hashes(_token_hashes(toks, cache), k).tolist())
        return pd.Series(out, dtype=object)

    return pandas_udf(fn, "array<bigint>")


def _rebuild_udf(k: int):
    """(text, kept_gram_starts) -> text with NON-kept gram windows
    removed; kept runs are original bytes, joined by single spaces.

    The kept set is the per-doc slice of the corpus-wide one-kept-
    occurrence-per-distinct-gram aggregation; because posexplode
    positions are dense [0, n_grams), the covered (duplicate) starts
    are exactly the complement of the kept set — computed here, so the
    expensive gram/explode pass is consumed ONCE upstream and no dup
    rows ever join back.  A doc shorter than k tokens has no grams
    (n_grams == 0) and is kept verbatim; a doc whose every gram lost
    the corpus-wide min is fully covered (text becomes empty)."""

    def fn(text_s: pd.Series, keep_s: pd.Series) -> pd.Series:
        out = []
        for text, keep in zip(text_s.fillna(""), keep_s):
            spans = [(m.start(), m.end()) for m in _TOKEN_RX.finditer(text)]
            L = len(spans)
            n = L - k + 1
            if n <= 0:
                out.append(text)
                continue
            is_dup_start = np.ones(n, dtype=bool)
            if keep is not None and len(keep) > 0:
                kp = np.asarray(keep, dtype=np.int64)
                is_dup_start[kp[(kp >= 0) & (kp < n)]] = False
            if not is_dup_start.any():
                out.append(text)
                continue
            starts = np.flatnonzero(is_dup_start)
            delta = np.zeros(L + 1, dtype=np.int64)
            np.add.at(delta, starts, 1)
            np.add.at(delta, np.minimum(starts + k, L), -1)
            covered = np.cumsum(delta[:-1]) > 0
            pieces = []
            run_start = None
            for i in range(L + 1):
                keep_tok = i < L and not covered[i]
                if keep_tok and run_start is None:
                    run_start = i
                elif not keep_tok and run_start is not None:
                    pieces.append(text[spans[run_start][0] : spans[i - 1][1]])
                    run_start = None
            out.append(" ".join(pieces))
        return pd.Series(out, dtype=object)

    return pandas_udf(fn, "string")


def remove_duplicate_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 50,
) -> DataFrame:
    """Removes every occurrence AFTER THE FIRST (corpus order by
    (id, pos)) of any repeated ``min_tokens``-token span.  Returns the
    input rows with ``text_col`` rewritten and an ``n_tokens_removed``
    audit column; rows never disappear (a fully-duplicated later copy
    becomes empty text)."""
    if min_tokens < 2:
        raise ValueError(f"min_tokens must be >= 2, got {min_tokens}")
    grams = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(_gram_udf(min_tokens)(F.col(text_col))).alias("pos", "h"),
    )
    # keep-first via partial-aggregable min, not a rank window: one hot
    # boilerplate gram must never become a single unsplittable window
    # task (AQE splits skewed joins, never windows).  min(struct) per
    # hash IS the kept occurrence; every other position is a dup, and
    # since posexplode positions are dense the rebuild kernel recovers
    # dup starts as the complement of the kept set — grams is consumed
    # exactly once and no join back is needed.
    kept = (
        grams.groupBy("h")
        .agg(F.min(F.struct("id", "pos")).alias("_first"))
        .select(F.col("_first.id").alias("id"), F.col("_first.pos").alias("pos"))
    )
    covered = kept.groupBy("id").agg(F.collect_list("pos").alias("_cov"))
    n_toks = F.size(
        F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+")
    )
    out = (
        docs.join(covered, F.col(id_col) == F.col("id"), "left")
        .withColumn("_pre_n", F.when(F.trim(F.coalesce(F.col(text_col), F.lit(""))) == "", 0).otherwise(n_toks))
        .withColumn(
            text_col,
            _rebuild_udf(min_tokens)(
                F.col(text_col), F.coalesce(F.col("_cov"), F.array().cast("array<int>"))
            ),
        )
        .withColumn(
            "n_tokens_removed",
            (F.col("_pre_n") - F.when(F.trim(F.col(text_col)) == "", 0).otherwise(
                F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
            )).cast("int"),
        )
        .drop("id", "_cov", "_pre_n")
    )
    return out
