"""Read path: Index handle + Searcher compiling Query ASTs to DataFrames.

Replaces the reference's Searcher/collector/matcher machinery
(``searching.py:697-859``, ``collectors.py``, ``matching/``) with
set-oriented plans (SURVEY §2.3):

- Term          -> filtered postings scan (parquet term min/max row-group
                   pruning does the term-dictionary lookup)
- And           -> union + groupBy(docid) having count == n, score = sum
                   (IntersectionMatcher binary.py:405-556: inner merge, sum)
- Or            -> groupBy(docid).sum (UnionMatcher binary.py:117-295 /
                   ArrayUnionMatcher combo.py:161-316 — the score-array
                   strategy is exactly what a shuffle agg does)
- DisjunctionMax-> groupBy(docid).max (+tiebreak) (binary.py:298-402)
- AndNot        -> left_anti join (binary.py:559-674)
- AndMaybe      -> left join + coalesce (binary.py:677-794)
- Require       -> left_semi join (wrappers.py:420-483)
- Not           -> anti join against all-docs (wrappers.py:76-145)
- Prefix/Wildcard/Regex/FuzzyTerm/TermRange -> terms-table predicate
                   expansion then Or of Terms (terms.py:182-241,310-519)
- Phrase        -> positional join + consecutive-position check via
                   higher-order array functions (spans.py:530-700)

Scoring: BM25F with the reference's exact statistics (SURVEY §1.4):
idf = ln(dc/(df+1)) + 1 over doc_count_all *including deletes*
(scoring.py:50-56), avgfl = exact field_length / doc_count_all
(searching.py:275-278), per-doc fl = 8-bit-quantized length (len_q column,
materialized at build), score = idf*(w*(K1+1))/(w + K1*((1-B) + B*fl/avgfl))
(scoring.py:263-296).  Top-k = ORDER BY score DESC, docid ASC LIMIT k
(TakeOrderedAndProject), matching the (score, -docnum) heap tie-break
(collectors.py:462-508).
"""

from __future__ import annotations

import math
import re
from collections import OrderedDict
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from whoosh_novo_spark.plans import ast
from whoosh_novo_spark.schema import IndexConfig
from whoosh_novo_spark.sources.segment_store import Manifest, SegmentStore

B_DEFAULT = 0.75
K1_DEFAULT = 1.2
PLAN_CACHE_SIZE = 512  # prepared plans kept per Searcher


def _fresh_dataframe(df: DataFrame) -> DataFrame:
    """New Dataset over an existing DataFrame's logical plan (~9 ms).

    The prepared-plan caches hand this out instead of the cached object:
    re-collecting the SAME Dataset reuses its already-materialized
    shuffle map outputs (Spark keeps them registered for the lifetime of
    the physical RDDs), which would turn a plan cache into silent
    intermediate-result caching.  A fresh Dataset gets a fresh physical
    plan and new shuffle ids, so every execution recomputes from the
    parquet inputs."""
    spark = df.sparkSession
    jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        spark._jsparkSession, df._jdf.logicalPlan()
    )
    return DataFrame(jdf, spark)


@dataclass
class TermStats:
    df: int
    cf: float
    max_weight: float
    min_len_q: int


class Index:
    """Read-side handle over a committed SegmentStore manifest."""

    def __init__(self, spark: SparkSession, store: SegmentStore, config: IndexConfig | None = None):
        self.spark = spark
        self.store = store
        self.config = config or IndexConfig()
        self.manifest: Manifest = store.read_manifest()
        if not self.manifest.segments:
            raise ValueError(f"no committed segments in {store.path}")
        # per-table StructType cache: parquet schema inference reads file
        # footers on EVERY spark.read.parquet call — ~60-80 ms of each
        # sub-second query was re-inferring a schema that cannot change
        # under an immutable committed manifest (guide §1: measure first;
        # the profile showed read.parquet as the largest plan-build cost)
        self._table_schema: dict[str, object] = {}
        self._empty_scored: DataFrame | None = None

    def _read_parquet(self, table: str, *paths: str) -> DataFrame:
        # lazy-init (getattr): FederatedIndex and other Index subclasses
        # construct without running this __init__
        cache = getattr(self, "_table_schema", None)
        if cache is None:
            cache = self._table_schema = {}
        sch = cache.get(table)
        if sch is not None:
            return self.spark.read.schema(sch).parquet(*paths)
        df = self.spark.read.parquet(*paths)
        cache[table] = df.schema
        return df

    def empty_scored(self) -> DataFrame:
        """Cached empty (docid, score) relation — compile dead-ends reuse
        it instead of paying a createDataFrame round-trip per query."""
        if getattr(self, "_empty_scored", None) is None:
            self._empty_scored = self.spark.createDataFrame(
                [], "docid long, score double"
            )
        return self._empty_scored

    def _union_table(self, table: str) -> DataFrame:
        paths = self.store.table_paths(self.manifest, table)
        return self._read_parquet(table, *paths)

    def postings(self, apply_deletes: bool = True) -> DataFrame:
        df = self._union_table("postings")
        if apply_deletes and self.manifest.has_tombstones:
            df = df.join(self.tombstones(), "docid", "left_anti")
        return df

    # --- file-level (field, term) pruning -------------------------------
    # postings/blocks files are (field, term, docid)-range-sorted, so each
    # file covers a contiguous term span; a term lookup only needs the one
    # or two files whose span contains it.  Spark prunes parquet at
    # row-group granularity INSIDE each task but still schedules a task
    # per file — at web scale that is a full metadata scan per query.
    # This is Iceberg-manifest-style plan-time file pruning, bounds read
    # once from the parquet footers (sources/file_prune.py); correctness
    # never depends on it (callers keep their full .where filters, files
    # without trustworthy stats are always kept).  Kill switch:
    # WNS_NO_FILE_PRUNE=1.

    def _file_ranges(self, table: str):
        import os as _os

        if _os.environ.get("WNS_NO_FILE_PRUNE") == "1":
            return None
        cache = getattr(self, "_range_cache", None)
        if cache is None:
            cache = self._range_cache = {}
        if table not in cache:
            from whoosh_novo_spark.sources.file_prune import segment_ranges

            cache[table] = segment_ranges(
                self.store, self.manifest.segments, table
            )
        return cache[table]

    def _pruned_table(
        self,
        table: str,
        fieldname: str | None,
        terms: list[str] | None = None,
        lo: str | None = None,
        hi: str | None = None,
        pairs: list[tuple[str, str]] | None = None,
    ) -> DataFrame | None:
        """Scan of ``table`` restricted to files whose (field, term) span
        can contain the requested keys, or None when pruning can't apply
        (caller falls back to the full union scan)."""
        ranges = self._file_ranges(table)
        if not ranges:
            return None
        from whoosh_novo_spark.sources.file_prune import prune_files

        keep = prune_files(ranges, fieldname, terms=terms, lo=lo, hi=hi, pairs=pairs)
        if keep is None or len(keep) >= len(ranges):
            return None
        if not keep:
            # no file can contain the keys; scan one file so the plan
            # keeps the on-disk schema (caller's filters match nothing)
            keep = [ranges[0].path]
        return self._read_parquet(table, *keep)

    def postings_span(
        self,
        fieldname: str,
        terms: list[str] | None = None,
        lo: str | None = None,
        hi: str | None = None,
        apply_deletes: bool = True,
    ) -> DataFrame:
        """``postings()`` restricted to the files that can contain the
        given exact ``terms`` (or the [lo, hi] term range) of
        ``fieldname``.  Same rows as postings() for any filter implied by
        those keys — callers apply their own .where on top."""
        df = self._pruned_table("postings", fieldname, terms=terms, lo=lo, hi=hi)
        if df is None:
            return self.postings(apply_deletes=apply_deletes)
        if apply_deletes and self.manifest.has_tombstones:
            df = df.join(self.tombstones(), "docid", "left_anti")
        return df

    def postings_span_pairs(
        self, pairs: list[tuple[str, str]], apply_deletes: bool = True
    ) -> DataFrame:
        """``postings()`` restricted to the files that can contain the
        given exact (field, term) keys (cross-field callers: the
        matched-terms collector, the batch evaluator)."""
        df = self._pruned_table("postings", None, pairs=pairs)
        if df is None:
            return self.postings(apply_deletes=apply_deletes)
        if apply_deletes and self.manifest.has_tombstones:
            df = df.join(self.tombstones(), "docid", "left_anti")
        return df

    def blocks_span(
        self,
        fieldname: str,
        terms: list[str] | None = None,
        lo: str | None = None,
        hi: str | None = None,
    ) -> DataFrame:
        """The blocks table restricted the same way (blocks are built
        in-place from the sorted postings partitions, so files inherit the
        same contiguous (field, term) spans)."""
        df = self._pruned_table("blocks", fieldname, terms=terms, lo=lo, hi=hi)
        return df if df is not None else self._union_table("blocks")

    def terms_span(
        self, pairs: list[tuple[str, str]] | None = None, fieldname: str | None = None
    ) -> DataFrame:
        """The term dictionary restricted to the files that can contain
        the given keys — the dictionary is (field, term)-range-sorted at
        build (usually one file per segment at small scale; range-pruned
        files as it grows)."""
        df = self._pruned_table("terms", fieldname, pairs=pairs)
        return df if df is not None else self.terms()

    def terms(self) -> DataFrame:
        return self._union_table("terms")

    def doclens(self, apply_deletes: bool = True) -> DataFrame:
        df = self._union_table("doclens")
        if apply_deletes and self.manifest.has_tombstones:
            df = df.join(self.tombstones(), "docid", "left_anti")
        return df

    def tombstones(self) -> DataFrame:
        p = self.store.tombstones_dir(self.manifest)
        if p is not None:
            return self._read_parquet("tombstones", p).select("docid")
        return self.spark.createDataFrame([], "docid long")

    def docmap(
        self, columns: list[str] | None = None, apply_deletes: bool = False
    ) -> DataFrame:
        from whoosh_novo_spark.operators.build import read_docmap

        dfs = [
            read_docmap(self.spark, self.store, s, columns=None)
            for s in self.manifest.segments
        ]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        if apply_deletes and self.manifest.has_tombstones:
            out = out.join(self.tombstones(), "docid", "left_anti")
        return out.select(*columns) if columns else out

    def vector_table(self, fieldname: str) -> DataFrame | None:
        """Forward index (docid, field, term, weight) for a vector=True
        field — docid-range-sorted, so per-doc lookups prune to one row
        group (whoosh vector postings, whoosh3.py .vps).  Returns None
        unless EVERY segment vectored the field (fall back to postings)."""
        segs = self.manifest.segments
        if not segs or not all(
            fieldname in s.meta.get("vector_fields", []) for s in segs
        ):
            return None
        paths = [self.store.table_path(s.segment_id, "vectors") for s in segs]
        df = self._read_parquet("vectors", *paths).where(F.col("field") == fieldname)
        if self.manifest.has_tombstones:
            # same read-time delete semantics as postings()/doclens():
            # key_terms/more_like must not see deleted docs' vectors
            df = df.join(self.tombstones(), "docid", "left_anti")
        return df

    def live_docids(self) -> DataFrame:
        """All non-deleted docids (the universe for Not/Every matchers —
        whoosh matchers skip per-segment deleted sets)."""
        return self.docmap(columns=["docid"], apply_deletes=True)

    # --- global statistics (scoring.py:50-56, searching.py:275-278) ---
    @property
    def doc_count_all(self) -> int:
        return self.manifest.doc_count_all

    def doc_count_for(self, fieldname: str | None) -> int:
        """BM25's dc statistic: per-language doc count for a lang-routed
        virtual field ("text@de"), doc_count_all otherwise."""
        return self.manifest.doc_count_for(fieldname)

    def avg_field_length(self, fieldname: str) -> float:
        return self.manifest.avg_field_length(fieldname) or 1.0

    def lang_variants(self, base_field: str) -> list[str]:
        """The virtual per-language fields a lang-routed build produced
        for ``base_field`` (e.g. ["text@de", "text@en"]) — expand a
        cross-language query as Or(Term(v, w) for v in variants)."""
        prefix = base_field + "@"
        return sorted(
            {
                f
                for s in self.manifest.segments
                for f in s.field_length
                if f.startswith(prefix)
            }
        )

    def term_stats(self, pairs: list[tuple[str, str]]) -> dict[tuple[str, str], TermStats]:
        """Aggregate per-(field,term) stats across segments for the given
        terms — the broadcast 'term dictionary lookup' of the query."""
        if not pairs:
            return {}
        want = set(pairs)
        fields = sorted({f for f, _ in pairs})
        texts = sorted({t for _, t in pairs})
        local = self._lexicon_local(
            [("field", "in", fields), ("term", "in", texts)],
            lambda fld, trm: (fld, trm) in want,
            {"pairs": list(pairs)},
        )
        if local is not None:
            return local
        t = self.terms_span(pairs=list(pairs)).where(
            F.col("field").isin(fields) & F.col("term").isin(texts)
        )
        if len(self.manifest.segments) > 1:
            # cross-segment stats fold; a single segment's terms table is
            # already unique per (field, term) — skip the shuffle
            t = t.groupBy("field", "term").agg(
                F.sum("df").alias("df"),
                F.sum("cf").alias("cf"),
                F.max("max_weight").alias("max_weight"),
                F.min("min_len_q").alias("min_len_q"),
            )
        rows = t.select(
            "field", "term", "df", "cf", "max_weight", "min_len_q"
        ).collect()
        out = {}
        for r in rows:
            if (r["field"], r["term"]) in want:
                out[(r["field"], r["term"])] = TermStats(
                    int(r["df"]), float(r["cf"]), float(r["max_weight"]), int(r["min_len_q"])
                )
        return out

    def _local_terms_files(self) -> list[str] | None:
        """Local paths of every terms file in the manifest, in manifest
        segment order — listed once per Index, since a committed manifest
        is immutable.  None when a terms dir is not on local storage."""
        import os as _os
        from urllib.parse import urlparse

        # lazy-init (getattr): Index subclasses may skip this __init__
        files = getattr(self, "_terms_files", False)
        if files is not False:
            return files
        files = []
        try:
            for p in self.store.table_paths(self.manifest, "terms"):
                if urlparse(p).scheme not in ("", "file"):
                    files = None
                    break
                d = p[7:] if p.startswith("file://") else p
                if not _os.path.isdir(d):
                    files = None
                    break
                files.extend(
                    _os.path.join(d, fn)
                    for fn in sorted(_os.listdir(d))
                    if fn.endswith(".parquet")
                )
        except OSError:  # unlistable dir: the Spark path reads it instead
            files = None
        self._terms_files = files or None
        return self._terms_files

    def _lexicon_local(
        self, filters: list[tuple], keep, prune: dict, cap: int | None = None
    ) -> dict[tuple[str, str], TermStats] | None:
        """Driver-side term-dictionary read (r6), the one local lexicon
        reader behind ``term_stats`` and ``expand_terms_local``.  A
        bounded stats lookup as a Spark job costs 100-300 ms per COLD
        term set (schedule + scan task + collect); the terms table is a
        few (field, term)-range-sorted parquet files, and pyarrow reads
        just the matching row groups in-process in ~5-15 ms.

        ``filters`` is the pyarrow row filter, ``keep(field, term)`` the
        exact membership test on the rows it returns, and ``prune`` the
        ``prune_files`` keys (same manifest bounds the Spark path prunes
        with).  Same rows as the Spark path: same files, same predicate,
        folded sum/sum/max/min across segments in manifest order.
        Deletes intentionally don't affect stats (whoosh counts deleted
        docs in df/cf until merge — SURVEY §1.4), same as the Spark path.

        Returns {(field, term): stats}, or None — the caller's Spark
        fallback — for non-local storage, an unreadable footer or filter
        edge, or more than ``cap`` distinct keys.  Kill switch:
        WNS_NO_LOCAL_STATS=1."""
        import os as _os

        if _os.environ.get("WNS_NO_LOCAL_STATS") == "1":
            return None
        files = self._local_terms_files()
        if not files:
            return None
        ranges = self._file_ranges("terms")
        if ranges:
            from whoosh_novo_spark.sources.file_prune import prune_files

            kept = prune_files(ranges, **prune)
            if kept is not None:
                keepset = {k[7:] if k.startswith("file://") else k for k in kept}
                # files without spans are kept by prune_files
                files = [f for f in files if f in keepset] or files
        import pyarrow.parquet as pq

        cols = ["field", "term", "df", "cf", "max_weight", "min_len_q"]
        acc: dict[tuple[str, str], list] = {}
        try:
            for f in files:
                t = pq.read_table(f, columns=cols, filters=filters)
                if t.num_rows == 0:
                    continue
                d = t.to_pydict()
                for fld, trm, df_, cf_, mw, mlq in zip(
                    d["field"], d["term"], d["df"], d["cf"],
                    d["max_weight"], d["min_len_q"],
                ):
                    if not keep(fld, trm):
                        continue
                    k = (fld, trm)
                    got = acc.get(k)
                    if got is None:
                        if cap is not None and len(acc) >= cap:
                            return None  # fat expansion: distributed plan
                        acc[k] = [int(df_), float(cf_), float(mw), int(mlq)]
                    else:  # cross-segment fold (sum/sum/max/min)
                        got[0] += int(df_)
                        got[1] += float(cf_)
                        got[2] = max(got[2], float(mw))
                        got[3] = min(got[3], int(mlq))
        except Exception:
            return None  # unreadable footer/filter edge: Spark fallback
        return {k: TermStats(*v) for k, v in acc.items()}

    def expand_terms_local(
        self, q: ast.Query, cap: int = 128
    ) -> list[tuple[str, TermStats]] | None:
        """Driver-side bounded expansion for Prefix/TermRange (r6): the
        lexicon slice is read in-process by ``_lexicon_local`` so a SMALL
        expansion can compile to the literal-factor single-scan plan — no
        expansion subquery, no broadcast stage, no count job.  Returns
        [(term, stats)] sorted by term, or None when not applicable
        (other query types, non-local storage, or more than ``cap``
        expanded terms — the distributed join IS the right plan for fat
        expansions).

        Only Prefix/TermRange qualify because their membership predicate
        has an exact Python twin (startswith / code-point range compare
        == Spark's UTF8 binary compare); Wildcard/Regex/Fuzzy use Spark
        expression semantics (Java regex, levenshtein) that must stay
        in-plan to stay identical."""
        if isinstance(q, ast.Prefix):
            pred = lambda t: t.startswith(q.text)  # noqa: E731
        elif isinstance(q, ast.TermRange):
            def pred(t, _q=q):
                if _q.start is not None:
                    if _q.startexcl:
                        if not (t > _q.start):
                            return False
                    elif not (t >= _q.start):
                        return False
                if _q.end is not None:
                    if _q.endexcl:
                        if not (t < _q.end):
                            return False
                    elif not (t <= _q.end):
                        return False
                return True
        else:
            return None
        b_lo, b_hi = _multiterm_file_bounds(q)
        flt = [("field", "==", q.fieldname)]
        if isinstance(q, ast.Prefix):
            flt.append(("term", ">=", q.text))
            if b_hi is not None:
                flt.append(("term", "<", b_hi))
        else:  # TermRange: honor the inclusive/exclusive flags exactly
            if q.start is not None:
                flt.append(("term", ">" if q.startexcl else ">=", q.start))
            if q.end is not None:
                flt.append(("term", "<" if q.endexcl else "<=", q.end))
        got = self._lexicon_local(
            flt,
            lambda fld, trm: fld == q.fieldname and pred(trm),
            {"fieldname": q.fieldname, "lo": b_lo, "hi": b_hi},
            cap=cap,
        )
        if got is None:
            return None
        return [(t, st) for (_, t), st in sorted(got.items())]

    def expand_terms_df(self, q: ast.Query) -> DataFrame:
        """Multi-term expansion as a DataFrame over the terms table —
        (term, df, cf, max_weight, min_len_q), stats aggregated across
        segments.  The expansion never leaves the cluster: the search path
        joins this to the postings scan (terms.py:182-201's simplify ->
        Or-of-Terms, expressed as a relational join instead of an AST
        rewrite)."""
        b_lo, b_hi = _multiterm_file_bounds(q)
        t = self._pruned_table("terms", q.fieldname, lo=b_lo, hi=b_hi)
        t = (t if t is not None else self.terms()).where(_multiterm_cond(q))
        if len(self.manifest.segments) == 1:
            # terms are unique per (field, term) within a segment: the
            # cross-segment fold (and its Exchange) is dead weight
            return t.select("term", "df", "cf", "max_weight", "min_len_q")
        return t.groupBy("term").agg(
            F.sum("df").alias("df"),
            F.sum("cf").alias("cf"),
            F.max("max_weight").alias("max_weight"),
            F.min("min_len_q").alias("min_len_q"),
        )

    def expand_terms(self, q: ast.Query, max_clauses: int | None = 1024) -> list[tuple[str, TermStats]]:
        """Driver-side expansion (only for weighting models that can't
        express their score over column stats).  Capped at the reference's
        Or.TOO_MANY_CLAUSES = 1024 (compound.py:282) so a hot pattern can
        never collect an unbounded term list to the driver."""
        t = self.expand_terms_df(q)
        if max_clauses is not None:
            rows = t.limit(max_clauses + 1).collect()
            if len(rows) > max_clauses:
                raise ValueError(
                    f"multiterm query expands to more than {max_clauses} terms; "
                    "use a weighting model with column-stat support "
                    "(score_col_stats) for distributed expansion"
                )
        else:
            rows = t.collect()
        return [
            (
                r["term"],
                TermStats(int(r["df"]), float(r["cf"]), float(r["max_weight"]), int(r["min_len_q"])),
            )
            for r in rows
        ]


class Searcher:
    def __init__(
        self,
        index: Index,
        B: float = B_DEFAULT,
        K1: float = K1_DEFAULT,
        weighting=None,
    ):
        from whoosh_novo_spark.plans.weighting import BM25F

        self.index = index
        self.B = B
        self.K1 = K1
        self.model = weighting if weighting is not None else BM25F(B, K1)
        # Term/flat-compound plans get idf stats from one bounded driver
        # lookup per COLD term (<= the query's term count rows; the
        # term-dictionary seek every engine does — whoosh's Searcher idf
        # cache, searching.py:332-348), then bake literal idf factors
        # in-plan, so warm queries add zero plan weight.  Unbounded
        # multiterm expansions (Prefix/Fuzzy/...) use the distributed
        # join instead: collecting an expansion is a scale hazard, a
        # <=len(terms) stats lookup is not.
        self._stats_cache: dict[tuple[str, str], TermStats | None] = {}
        # prepared-plan cache (see Searcher._cached_plan): plans only,
        # never rows; least-recently-used order, oldest first
        self._plan_cache: OrderedDict[object, DataFrame] = OrderedDict()

    def _cached_stats(self, pairs: list[tuple[str, str]]) -> dict[tuple[str, str], TermStats]:
        """Per-searcher cache of term stats (idf cache analogue,
        searching.py:332-348)."""
        missing = [p for p in pairs if p not in self._stats_cache]
        if missing:
            got = self.index.term_stats(missing)
            for p in missing:
                self._stats_cache[p] = got.get(p)
        return {p: s for p in pairs if (s := self._stats_cache[p]) is not None}

    # --- scoring expressions -------------------------------------------
    def idf(self, df: int, fieldname: str | None = None) -> float:
        """scoring.py:50-56: log(dc / (df+1)) + 1, natural log; dc is
        per-language for lang-routed virtual fields."""
        return math.log(self.index.doc_count_for(fieldname) / (df + 1)) + 1.0

    def _bm25_col(self, idf: float, fieldname: str, w=None, flq=None):
        """BM25 column expression over postings columns weight/len_q
        (scoring.py:263-270 ``bm25``); computed JVM-side."""
        w = w if w is not None else F.col("weight")
        flq = flq if flq is not None else F.col("len_q")
        avgfl = self.index.avg_field_length(fieldname)
        B, K1 = self.B, self.K1
        scorable = self.index.config.field(fieldname).scorable
        if not scorable:
            return w  # WeightScorer fallback (scoring.py:301-303,133-157)
        denom = w + K1 * ((1 - B) + B * flq.cast("double") / F.lit(float(avgfl)))
        return F.lit(idf) * (w * (K1 + 1)) / denom

    def _terms_score_col(self, fieldname: str, entries: list[tuple[str, "TermStats", float]]):
        """Score Column for a single scan over several terms of one field:
        ``entries`` = [(text, stats, boost)].  Separable models use a
        broadcast factor map x one base expression; others a per-term CASE
        chain.  Unscorable fields score by raw weight (WeightScorer,
        scoring.py:301-303) under every model."""
        w, flq = F.col("weight"), F.col("len_q")
        if not self.index.config.field(fieldname).scorable:
            if len(entries) == 1:
                return w * F.lit(float(entries[0][2]))
            boost_map = F.create_map(
                *[F.lit(x) for t, _s, b in entries for x in (t, float(b))]
            )
            return w * boost_map[F.col("term")]
        model = self.model
        if len(entries) == 1 and model.separable():
            # single term: bake the factor as one literal — no map build,
            # no per-row map lookup (same float product as the map path)
            t, s, b = entries[0]
            return model.base_col(self, fieldname, w, flq) * F.lit(
                float(model.factor(self, fieldname, s) * b)
            )
        if model.separable():
            factor_map = F.create_map(
                *[
                    F.lit(x)
                    for t, s, b in entries
                    for x in (t, float(model.factor(self, fieldname, s) * b))
                ]
            )
            return model.base_col(self, fieldname, w, flq) * factor_map[F.col("term")]
        expr = None
        for t, s, b in entries:
            sc = model.score_col(self, fieldname, s, w, flq) * F.lit(float(b))
            expr = F.when(F.col("term") == t, sc) if expr is None else expr.when(
                F.col("term") == t, sc
            )
        return expr

    # --- public API ----------------------------------------------------
    def search(self, q: ast.Query, limit: int | None = 10) -> DataFrame:
        """Returns (docid, score) top-`limit`, ordered score desc, docid asc.
        ``limit=None`` == UnlimitedCollector (collectors.py:511-530).

        Compiled plans are memoized per (normalized query, limit) — the
        prepared-statement cache every serving engine keeps.  Building a
        DataFrame plan costs 80-230 ms of driver py4j round-trips
        (measured r6, ~30-50% of a warm sub-second query); a repeated
        query reuses the cached LOGICAL plan, re-wrapped into a FRESH
        Dataset (~9 ms) so each call gets new shuffle/broadcast ids and
        recomputes everything from parquet.  Results and materialized
        stages are never reused: returning the same Dataset object would
        silently resurrect its prior run's shuffle map outputs, which is
        result caching in disguise.  The plan is safe to reuse because
        an Index handle is pinned to one committed manifest (segment
        files are immutable; deletes/merges commit a NEW manifest read
        by a new Index)."""
        qn = q.normalize()

        def build() -> DataFrame:
            out = self.score_df(qn).orderBy(F.desc("score"), F.asc("docid"))
            return out.limit(limit) if limit is not None else out

        return self._cached_plan((qn, limit), build)

    def _cached_plan(self, key: tuple, build) -> DataFrame:
        """The prepared-plan cache shared by ``search`` and ``search_wand``:
        a FRESH Dataset over the cached logical plan for ``key``, else
        ``build()``'s plan, cached.  Least-recently-used eviction bounds
        it at PLAN_CACHE_SIZE plans, so a hot plan survives any number of
        one-off queries.  A runtime without the classic Dataset
        internals can't guarantee fresh execution: nothing is cached."""
        try:
            hash(key)
        except TypeError:  # unhashable query payload: fall back to repr
            key = repr(key)
        cache = self._plan_cache
        cached = cache.get(key)
        if cached is not None:
            cache.move_to_end(key)
            try:
                return _fresh_dataframe(cached)
            except Exception:  # runtime without classic Dataset internals
                cache.clear()
        out = build()
        try:
            fresh = _fresh_dataframe(out)
        except Exception:
            return out  # can't guarantee fresh execution: don't cache
        cache[key] = out
        if len(cache) > PLAN_CACHE_SIZE:
            cache.popitem(last=False)
        return fresh

    def _is_text_field(self, name: str) -> bool:
        try:
            return self.index.config.field(name).type == "text"
        except KeyError:
            return True

    def _known_field(self, name: str) -> bool:
        try:
            self.index.config.field(name)
            return True
        except KeyError:
            return False

    def score_df(self, q: ast.Query) -> DataFrame:
        """Full scored match set (docid, score) for a normalized query."""
        if isinstance(q, ast.NullQuery):
            return self.index.empty_scored()
        # Prefetch driver-side stats in ONE bounded lookup for every text
        # term leaf (warm terms are free)
        pairs = [
            (t.fieldname, t.text)
            for t in ast.term_leaves(q)
            if self._is_text_field(t.fieldname)
        ]
        stats = self._cached_stats(pairs) if pairs else {}
        return self._compile(q, stats)

    def search_filtered(
        self,
        q: ast.Query,
        limit: int | None = 10,
        allow: ast.Query | DataFrame | None = None,
        restrict: ast.Query | DataFrame | None = None,
    ) -> DataFrame:
        """FilterCollector (collectors.py:659-762): ``allow`` keeps only
        docs matching the filter (semi join), ``restrict`` drops docs
        matching the mask (anti join).  Filters affect membership, never
        scores — exactly the reference semantics."""
        qn = q.normalize()
        scored = self.score_df(qn)

        def ids_of(x) -> DataFrame:
            if isinstance(x, ast.Query):
                return self._compile_ids(x.normalize())
            return x.select("docid")

        if allow is not None:
            scored = scored.join(ids_of(allow), "docid", "left_semi")
        if restrict is not None:
            scored = scored.join(ids_of(restrict), "docid", "left_anti")
        out = scored.orderBy(F.desc("score"), F.asc("docid"))
        return out.limit(limit) if limit is not None else out

    def search_page(self, q: ast.Query, pagenum: int, pagelen: int = 10) -> DataFrame:
        """Pagination (searching.py:615-667): search(limit=pagenum*pagelen)
        then slice the last page — same shape here with one extra
        row_number so the caller gets exactly the page rows."""
        from pyspark.sql import Window

        if pagenum < 1:
            raise ValueError("pagenum must be >= 1")
        top = self.search(q, limit=pagenum * pagelen)
        w = Window.orderBy(F.desc("score"), F.asc("docid"))
        return (
            top.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") > (pagenum - 1) * pagelen)
            .select("docid", "score", "rank")
        )

    def search_sorted_by(
        self,
        q: ast.Query,
        docs_key: DataFrame,
        key: str,
        limit: int | None = 10,
        reverse: bool = False,
    ) -> DataFrame:
        """SortingCollector (collectors.py:536-583): order matches by a
        doc-values facet key instead of score; ties by docid asc."""
        scored = self.score_df(q.normalize())
        j = scored.join(docs_key.select(F.col("docid"), key), "docid")
        order = [F.desc(key) if reverse else F.asc(key), F.asc("docid")]
        out = j.orderBy(*order)
        return out.limit(limit) if limit is not None else out

    def key_terms(
        self,
        docnums: list[int],
        fieldname: str,
        numterms: int = 5,
        model: str = "bo1",
        normalize: bool = True,
    ) -> list[tuple[str, float]]:
        """The most important terms of the given documents
        (searching.py:509-543): their term vectors (vectors table when the
        field is vector=True, else a docid-pruned postings scan) expanded
        through a classify model."""
        from whoosh_novo_spark.operators.classify import expanded_terms

        return expanded_terms(
            self, None, fieldname, numterms, model, normalize, docnums=docnums
        )

    def key_terms_from_text(
        self,
        fieldname: str,
        text: str,
        numterms: int = 5,
        model: str = "bo1",
        normalize: bool = True,
    ) -> list[tuple[str, float]]:
        """Key terms of raw text analyzed with the field's chain
        (searching.py:545-557, Expander.add_text)."""
        from whoosh_novo_spark.operators.classify import expanded_terms_from_weights

        from collections import Counter

        from whoosh_novo_spark.functions.analysis import analyze_query_terms

        toks = analyze_query_terms(text, self.index.config.field(fieldname).analyzer)
        weights = {t: float(n) for t, n in Counter(toks).items()}
        return expanded_terms_from_weights(
            self, weights, fieldname, numterms, model, normalize
        )

    def more_like(
        self,
        docnum: int,
        fieldname: str,
        text: str | None = None,
        top: int = 10,
        numterms: int = 5,
        model: str = "bo1",
        normalize: bool = False,
        filter=None,
    ) -> DataFrame:
        """Documents similar to the given one (searching.py:559-613): Or of
        the doc's key terms boosted by their expansion weights, the source
        doc masked out of the results."""
        from whoosh_novo_spark.plans import ast as _ast

        if text is not None:
            kts = self.key_terms_from_text(
                fieldname, text, numterms=numterms, model=model, normalize=normalize
            )
        else:
            kts = self.key_terms(
                [docnum], fieldname, numterms=numterms, model=model, normalize=normalize
            )
        if not kts:
            return self.index.empty_scored()
        q = _ast.Or(
            tuple(_ast.Term(fieldname, w, boost=float(wt)) for w, wt in kts)
        )
        mask = self.index.spark.createDataFrame([(int(docnum),)], "docid long")
        return self.search_filtered(q, limit=top, allow=filter, restrict=mask)

    def fetch(self, results: DataFrame, columns: list[str]) -> DataFrame:
        """Join top-k docids back to stored fields (Results.fields,
        searching.py:350-392) — broadcast the tiny result set."""
        return F.broadcast(results).join(
            self.index.docmap(columns=["docid"] + columns), "docid", "inner"
        )

    # --- compiler ------------------------------------------------------
    def _compile_ids(
        self, q: ast.Query, stats=None, apply_deletes: bool = False
    ) -> DataFrame:
        """Docid-only compilation for membership probes (AndNot/Require's
        b side, Not's child, filter sets): a semi/anti join never reads the
        probe's scores, so the idf stats join would be dead plan weight —
        this emits the bare pruned postings scan.  Duplicate docids are
        fine (semi/anti joins are set-semantics); tombstone filtering is
        skipped BY DEFAULT because the scored side is already
        tombstone-filtered, so deleted ids on the probe side can never
        match.  Pass ``apply_deletes=True`` when the ids themselves become
        result rows (ConstantScoreQuery) — there is no scored side to
        filter them then."""
        if isinstance(q, ast.Term) and self._is_text_field(q.fieldname):
            return (
                self.index.postings(apply_deletes=apply_deletes)
                .where((F.col("field") == q.fieldname) & (F.col("term") == q.text))
                .select("docid")
            )
        if (
            isinstance(q, ast.Or)
            and not (q.minmatch and q.minmatch > 1)
            and all(
                isinstance(c, ast.Term) and self._is_text_field(c.fieldname)
                for c in q.children
            )
            and len({c.fieldname for c in q.children}) == 1
        ):
            fieldname = q.children[0].fieldname
            texts = sorted({c.text for c in q.children})
            return (
                self.index.postings(apply_deletes=apply_deletes)
                .where((F.col("field") == fieldname) & F.col("term").isin(texts))
                .select("docid")
            )
        return self._compile(q, stats or {}).select("docid")

    def _compile(self, q: ast.Query, stats) -> DataFrame:
        spark = self.index.spark
        empty = self.index.empty_scored()

        def boost(df: DataFrame, b: float) -> DataFrame:
            if b == 1.0:
                return df
            return df.withColumn("score", F.col("score") * F.lit(float(b)))

        if isinstance(q, ast.NullQuery):
            return empty

        if isinstance(q, (ast.NumericRange, ast.DateRange)) or (
            isinstance(q, ast.Term) and not self._is_text_field(q.fieldname)
        ):
            return self._compile_typed(q)

        if isinstance(q, ast.Term):
            if not self._known_field(q.fieldname):
                # a field the schema doesn't declare has no terms — match
                # nothing, like the reference's TermNotFound empty matcher
                return empty
            p = self.index.postings_span(q.fieldname, terms=[q.text]).where(
                (F.col("field") == q.fieldname) & (F.col("term") == q.text)
            )
            if not self.index.config.field(q.fieldname).scorable:
                # WeightScorer: raw weight, no stats job at all
                return boost(p.select("docid", F.col("weight").alias("score")), q.boost)
            st = stats.get((q.fieldname, q.text)) or self._cached_stats(
                [(q.fieldname, q.text)]
            ).get((q.fieldname, q.text))
            if st is None:
                return empty
            score = self._terms_score_col(q.fieldname, [(q.text, st, 1.0)])
            return boost(p.select("docid", score.alias("score")), q.boost)

        if isinstance(q, ast.Variations):
            # terms.py:522-570: Or of the lexicon-present variants, scored
            # normally; the variant set is tiny so a stats-map single scan
            # (the flat-compound plan shape) is the right physical plan
            from whoosh_novo_spark.functions.variations import variations as _vars

            words = sorted(q.variants) if q.variants is not None else sorted(_vars(q.text))
            vstats = self._cached_stats([(q.fieldname, w) for w in words])
            present = [w for w in words if (q.fieldname, w) in vstats]
            if not present:
                return empty
            p = self.index.postings_span(q.fieldname, terms=present).where(
                (F.col("field") == q.fieldname) & F.col("term").isin(present)
            )
            score = self._terms_score_col(
                q.fieldname, [(w, vstats[(q.fieldname, w)], 1.0) for w in present]
            )
            agg = (
                p.select("docid", score.alias("score"))
                .groupBy("docid")
                .agg(F.sum("score").alias("score"))
            )
            return boost(agg, q.boost)

        if isinstance(q, (ast.Prefix, ast.Wildcard, ast.Regex, ast.TermRange, ast.FuzzyTerm)):
            return self._compile_multiterm(q)

        if isinstance(q, ast.Every):
            if q.fieldname in (None, "*"):
                d = self.index.live_docids()
            elif not self._is_text_field(q.fieldname):
                # typed fields have no doclens rows: Every(field) = every
                # live doc with a value in the native docmap column
                # (qcore.py:650-760), mirroring _compile_typed's scan
                d = (
                    self.index.docmap(
                        columns=["docid", q.fieldname], apply_deletes=True
                    )
                    .where(F.col(q.fieldname).isNotNull())
                    .select("docid")
                )
            else:
                d = self.index.doclens().where(F.col("field") == q.fieldname).select("docid")
            return d.select("docid", F.lit(float(q.boost)).alias("score"))

        if isinstance(q, ast.And) and any(isinstance(c, ast.Not) for c in q.children):
            # whoosh And over Not children: docs matching the positive part
            # and none of the negated parts; each Not ADDS its boost to the
            # score (InverseMatcher boost, wrappers.py:76-145)
            pos = [c for c in q.children if not isinstance(c, ast.Not)]
            nots = [c for c in q.children if isinstance(c, ast.Not)]
            if pos:
                base = self._compile(
                    pos[0] if len(pos) == 1 else ast.And(tuple(pos)), stats
                )
            else:
                base = self.index.live_docids().select(
                    "docid", F.lit(0.0).alias("score")
                )
            for n in nots:
                base = base.join(self._compile_ids(n.child, stats), "docid", "left_anti")
            offset = float(sum(n.boost for n in nots))
            base = base.withColumn("score", F.col("score") + F.lit(offset))
            return boost(base, q.boost)

        if isinstance(q, (ast.And, ast.Or, ast.DisjunctionMax)):
            flat = self._flat_terms_df(q, stats)
            if flat is not None:
                u, n_present, n_children = flat
                if isinstance(q, ast.And):
                    if n_present is not None and n_present < n_children:
                        return empty  # a required term is absent from index
                    agg = (
                        u.groupBy("docid")
                        .agg(F.sum("score").alias("score"), F.count(F.lit(1)).alias("_nc"))
                        .where(F.col("_nc") == n_children)
                        .drop("_nc")
                    )
                elif isinstance(q, ast.Or) and not (q.minmatch and q.minmatch > 1):
                    agg = u.groupBy("docid").agg(F.sum("score").alias("score"))
                elif isinstance(q, ast.Or):
                    agg = (
                        u.groupBy("docid")
                        .agg(F.sum("score").alias("score"), F.count(F.lit(1)).alias("_nc"))
                        .where(F.col("_nc") >= q.minmatch)
                        .drop("_nc")
                    )
                else:  # DisjunctionMax
                    agg = u.groupBy("docid").agg(
                        F.max("score").alias("_mx"), F.sum("score").alias("_sm")
                    )
                    score = F.col("_mx") + F.lit(float(q.tiebreak)) * (
                        F.col("_sm") - F.col("_mx")
                    )
                    agg = agg.select("docid", score.alias("score"))
                return boost(agg, q.boost)

        if isinstance(q, ast.And):
            kids = [self._compile(c, stats) for c in q.children]
            n = len(kids)
            u = _union_all(kids)
            agg = (
                u.groupBy("docid")
                .agg(F.sum("score").alias("score"), F.count(F.lit(1)).alias("_nc"))
                .where(F.col("_nc") == n)
                .drop("_nc")
            )
            return boost(agg, q.boost)

        if isinstance(q, ast.Or):
            kids = [self._compile(c, stats) for c in q.children]
            u = _union_all(kids)
            aggs = [F.sum("score").alias("score")]
            if q.minmatch and q.minmatch > 1:
                agg = (
                    u.groupBy("docid")
                    .agg(*aggs, F.count(F.lit(1)).alias("_nc"))
                    .where(F.col("_nc") >= q.minmatch)
                    .drop("_nc")
                )
            else:
                agg = u.groupBy("docid").agg(*aggs)
            return boost(agg, q.boost)

        if isinstance(q, ast.DisjunctionMax):
            kids = [self._compile(c, stats) for c in q.children]
            u = _union_all(kids)
            agg = u.groupBy("docid").agg(
                F.max("score").alias("_mx"), F.sum("score").alias("_sm")
            )
            score = F.col("_mx") + F.lit(float(q.tiebreak)) * (F.col("_sm") - F.col("_mx"))
            return boost(agg.select("docid", score.alias("score")), q.boost)

        if isinstance(q, ast.AndNot):
            a = self._compile(q.a, stats)
            b = self._compile_ids(q.b, stats)
            return boost(a.join(b, "docid", "left_anti"), q.boost)

        if isinstance(q, ast.AndMaybe):
            a = self._compile(q.a, stats)
            b = self._compile(q.b, stats).withColumnRenamed("score", "_bs")
            j = a.join(b, "docid", "left")
            return boost(
                j.select(
                    "docid",
                    (F.col("score") + F.coalesce(F.col("_bs"), F.lit(0.0))).alias("score"),
                ),
                q.boost,
            )

        if isinstance(q, ast.Require):
            a = self._compile(q.a, stats)
            b = self._compile_ids(q.b, stats)
            return boost(a.join(b, "docid", "left_semi"), q.boost)

        if isinstance(q, ast.Not):
            # standalone Not: complement of the child, scored by the
            # InverseMatcher's boost (wrappers.py:76-145)
            child = self._compile_ids(q.child, stats)
            alldocs = self.index.live_docids()
            return alldocs.join(child, "docid", "left_anti").select(
                "docid", F.lit(float(q.boost)).alias("score")
            )

        if isinstance(q, ast.Phrase):
            return boost(self._compile_phrase(q, stats), q.boost)

        if isinstance(q, ast.ConstantScoreQuery):
            # wrappers.py:147-183: ListMatcher over the child's ids with a
            # constant weight — the child's stats join is dropped entirely.
            # apply_deletes=True: these ids ARE the result rows, so
            # tombstoned docs must be filtered here (r3 ADVICE, high)
            ids = self._compile_ids(q.child, stats, apply_deletes=True).distinct()
            return boost(
                ids.select("docid", F.lit(float(q.score)).alias("score")), q.boost
            )

        if isinstance(q, ast.WeightingQuery):
            # wrappers.py:184-214: score the child under a different model
            sub = Searcher(
                self.index,
                weighting=q.weighting if q.weighting is not None else self.model,
            )
            return boost(sub.score_df(q.child), q.boost)

        if isinstance(q, ast.Otherwise):
            # compound.py:578-590: the reference chooses a-vs-b PER
            # SEGMENT (a segment uses a's matcher iff it is_active there,
            # i.e. has ANY posting — deleted docs included, since whoosh
            # matchers see deletions only at collect time).  Single
            # segment: a bounded take(1) probe.  Multi segment: one
            # bounded aggregation over a's docid-only probe plan (no
            # stats join) collects the <=n_segments active segment
            # ordinals, then each side is range-filtered (r3 VERDICT #9 —
            # the r3 global-choice deviation is gone).
            segs = self.index.manifest.segments
            if len(segs) <= 1:
                a = self._compile(q.a, stats)
                if a.take(1):
                    return boost(a, q.boost)
                return boost(self._compile(q.b, stats), q.boost)

            def seg_ord(col):
                expr = F.lit(-1)
                for i, s in enumerate(segs):
                    expr = F.when(
                        col.between(s.min_docid, s.max_docid), F.lit(i)
                    ).otherwise(expr)
                return expr

            probe = self._compile_ids(q.a)  # apply_deletes=False: is_active
            active = {
                r["seg"]
                for r in probe.select(seg_ord(F.col("docid")).alias("seg"))
                .distinct()
                .collect()
            }
            if len(active) == len(segs):
                return boost(self._compile(q.a, stats), q.boost)
            if not active:
                return boost(self._compile(q.b, stats), q.boost)
            a = self._compile(q.a, stats)
            b = self._compile(q.b, stats)
            out = a.where(seg_ord(F.col("docid")).isin(sorted(active))).unionByName(
                b.where(~seg_ord(F.col("docid")).isin(sorted(active)))
            )
            return boost(out, q.boost)

        if isinstance(q, ast.Sequence):
            kids = q.subqueries
            if not all(isinstance(c, ast.Term) for c in kids) or len(
                {c.fieldname for c in kids}
            ) != 1:
                raise TypeError(
                    "Sequence supports single-field Term children (the "
                    "parser's sequence syntax); wrap other shapes in spans"
                )
            from whoosh_novo_spark.operators.spans import phrase_with_slop

            if self._known_field(kids[0].fieldname) and not self.index.config.field(
                kids[0].fieldname
            ).positions:
                return empty  # positions-free build: no positions column
            # ast.Ordered mirrors the reference's Ordered (positional.py:
            # 123-132 -> SpanBefore): subqueries in document order at ANY
            # distance — the slop bound applies only to plain Sequence
            slop = (1 << 30) if isinstance(q, ast.Ordered) else q.slop
            ph = ast.Phrase(
                kids[0].fieldname, tuple(c.text for c in kids), slop=slop
            )
            pstats = self._cached_stats(
                [(kids[0].fieldname, c.text) for c in kids]
            )
            return boost(
                phrase_with_slop(self, ph, pstats, ordered=q.ordered), q.boost
            )

        raise TypeError(f"unsupported query node {type(q)}")

    def _compile_typed(self, q) -> DataFrame:
        """NumericRange/DateRange/typed-field Term over native docmap
        columns (fields.py:516-997 NUMERIC/DATETIME/BOOLEAN surface):
        compiles to a pushed-down column predicate on the docmap parquet —
        Catalyst pushes the range into the scan, parquet row-group min/max
        stats do the pruning the reference's tiered terms were built for.
        Score = boost (the reference's constantscore=True default; ranges
        "will almost always be used as a filter", ranges.py:244+)."""
        ix = self.index
        col = F.col(q.fieldname)
        if isinstance(q, ast.DateRange):
            col = col.cast("timestamp")
            conv = lambda v: F.lit(v).cast("timestamp")
        else:
            conv = F.lit
        if isinstance(q, ast.Term):
            cond = col == conv(q.text)
        else:
            cond = F.lit(True)
            if q.start is not None:
                cond = cond & (col > conv(q.start) if q.startexcl else col >= conv(q.start))
            if q.end is not None:
                cond = cond & (col < conv(q.end) if q.endexcl else col <= conv(q.end))
        d = ix.docmap(columns=["docid", q.fieldname]).where(cond)
        if ix.manifest.has_tombstones:
            d = d.join(ix.tombstones(), "docid", "left_anti")
        return d.select("docid", F.lit(float(q.boost)).alias("score"))

    def _compile_multiterm(self, q) -> DataFrame:
        """Prefix/Wildcard/Regex/TermRange/FuzzyTerm without collecting the
        expansion: the postings scan (pruned by a cheap pushed-down term
        bound) inner-joins the predicate-filtered terms table, and the
        per-term score factor is computed FROM THE JOINED STATS COLUMNS —
        the distributed equivalent of the reference's preloaded-array Or
        matcher for >TOO_MANY_CLAUSES expansions (compound.py:282,330-340).

        Falls back to the (1024-capped) driver expansion only for weighting
        models that can't express their score over column stats."""
        ix = self.index
        spark = ix.spark
        empty = self.index.empty_scored()
        fieldname = q.fieldname
        if not self._known_field(fieldname):
            return empty  # undeclared field: no terms (TermNotFound)

        # small Prefix/TermRange expansions compile to the literal-factor
        # single-scan plan (the Variations shape): the lexicon slice is a
        # ~10 ms driver-side pyarrow seek, which replaces the expansion
        # subquery + broadcast stage (and the constantscore count job)
        # with an IN-list pushed into the postings scan.  Fat expansions
        # (> cap) keep the distributed join below.
        local = self.index.expand_terms_local(q)
        if local is not None:
            return self._compile_multiterm_local(q, local)

        tdf = ix.expand_terms_df(q)
        b_lo, b_hi = _multiterm_file_bounds(q)
        p = ix.postings_span(fieldname, lo=b_lo, hi=b_hi).where(
            F.col("field") == fieldname
        )
        push = _multiterm_pushdown(q)
        if push is not None:
            p = p.where(push)

        if getattr(q, "constantscore", False):
            # terms.py:230-239: >1 expansion with constantscore ->
            # weighting=None, every matching doc scores `boost`; exactly 1
            # expansion scores like a plain Term.  The expansion count is a
            # 2-row bounded action on the (tiny) terms side, not a collect.
            n_exp = tdf.limit(2).count()
            if n_exp == 0:
                return empty
            if n_exp > 1:
                return (
                    p.join(tdf.select("term"), "term", "left_semi")
                    .select("docid")
                    .distinct()
                    .select("docid", F.lit(float(q.boost)).alias("score"))
                )

        w, flq = F.col("weight"), F.col("len_q")
        if not ix.config.field(fieldname).scorable:
            score = w  # WeightScorer (scoring.py:301-303)
            joined = p.join(tdf.select("term"), "term", "left_semi")
        else:
            score = self.model.score_col_stats(
                self, fieldname, w, flq, F.col("df").cast("double"), F.col("cf")
            )
            if score is None:
                # model without column-stat support: bounded driver expansion
                expansions = ix.expand_terms(q)
                if not expansions:
                    return empty
                score_l = self._terms_score_col(
                    fieldname, [(t, st, 1.0) for t, st in expansions]
                )
                pl = p.where(F.col("term").isin([t for t, _ in expansions]))
                agg = (
                    pl.select("docid", score_l.alias("score"))
                    .groupBy("docid")
                    .agg(F.sum("score").alias("score"))
                )
                return agg if q.boost == 1.0 else agg.withColumn(
                    "score", F.col("score") * F.lit(float(q.boost))
                )
            joined = p.join(tdf, "term")
        agg = (
            joined.select("docid", score.alias("score"))
            .groupBy("docid")
            .agg(F.sum("score").alias("score"))
        )
        if q.boost != 1.0:
            agg = agg.withColumn("score", F.col("score") * F.lit(float(q.boost)))
        return agg

    def _compile_multiterm_local(
        self, q, entries: list[tuple[str, TermStats]]
    ) -> DataFrame:
        """Literal-factor plan for a driver-expanded multiterm query —
        same scores as the joined plan (the factor is the same model
        factor, baked as a literal like the cached-stats Term path), same
        membership (the IN-list IS the expansion)."""
        ix = self.index
        fieldname = q.fieldname
        if not entries:
            return ix.empty_scored()
        texts = [t for t, _ in entries]
        p = ix.postings_span(fieldname, terms=texts).where(
            (F.col("field") == fieldname) & F.col("term").isin(texts)
        )
        if getattr(q, "constantscore", False) and len(entries) > 1:
            # terms.py:230-239: >1 expansion with constantscore -> every
            # matching doc scores `boost`; the expansion count is known
            # driver-side here (no bounded count job needed)
            return (
                p.select("docid")
                .distinct()
                .select("docid", F.lit(float(q.boost)).alias("score"))
            )
        if not ix.config.field(fieldname).scorable:
            score = F.col("weight")  # WeightScorer (scoring.py:301-303)
        else:
            score = self._terms_score_col(
                fieldname, [(t, st, 1.0) for t, st in entries]
            )
        agg = (
            p.select("docid", score.alias("score"))
            .groupBy("docid")
            .agg(F.sum("score").alias("score"))
        )
        if q.boost != 1.0:
            agg = agg.withColumn("score", F.col("score") * F.lit(float(q.boost)))
        return agg

    def _flat_terms_df(self, q, stats):
        """Fast path for compounds whose children are all Terms: ONE
        filtered postings scan with a per-term idf/boost broadcast map,
        instead of N scans unioned.  This is the plan shape that matters at
        scale — a single parquet scan with an IN-list pushed filter, one
        shuffle, no union overhead.  Returns (scored_df, n_present,
        n_children) or None if the shape doesn't apply.

        Mirrors the reference's preloaded-score-array Or strategy
        (combo.py:58-158) generalized to And/DisMax counting."""
        kids = q.children
        if not all(isinstance(c, ast.Term) for c in kids):
            return None
        fields = {c.fieldname for c in kids}
        if len(fields) != 1:
            return None
        if len({c.text for c in kids}) != len(kids):
            # duplicate texts (surviving dedup => differing boosts, e.g.
            # "a^2 a^3"): the single-scan shape can't represent two
            # matchers on one posting row (And's count and the per-term
            # boost/factor maps would both break) — per-child compile
            return None
        fieldname = next(iter(fields))
        if not self._known_field(fieldname):
            return None  # per-child compile turns each Term into empty
        scorable = self.index.config.field(fieldname).scorable

        if not scorable:
            # WeightScorer: raw weights, no stats lookup.  Membership/absence
            # falls out of the scan itself (an absent term matches nothing,
            # so an And's count == n_children filter rejects every doc).
            texts = sorted({c.text for c in kids})
            p = self.index.postings_span(fieldname, terms=texts).where(
                (F.col("field") == fieldname) & F.col("term").isin(texts)
            )
            base_score = F.col("weight")
            if any(c.boost != 1.0 for c in kids):
                boost_map = F.create_map(
                    *[F.lit(x) for c in kids for x in (c.text, float(c.boost))]
                )
                base_score = base_score * boost_map[F.col("term")]
            return p.select("docid", base_score.alias("score")), None, len(kids)

        present = [c for c in kids if (c.fieldname, c.text) in stats]
        if not present:
            return None
        texts = [c.text for c in present]
        p = self.index.postings_span(fieldname, terms=texts).where(
            (F.col("field") == fieldname) & F.col("term").isin(texts)
        )
        score = self._terms_score_col(
            fieldname,
            [(c.text, stats[(c.fieldname, c.text)], c.boost) for c in present],
        )
        return p.select("docid", score.alias("score")), len(present), len(kids)

    def _compile_phrase(self, q: ast.Phrase, stats) -> DataFrame:
        """Positional intersection: docs where words appear at consecutive
        renumbered positions (whoosh Phrase -> SpanNear2 with slop,
        positional.py:237-271).  Implemented as an AND-style docid agg that
        also intersects shifted position arrays with higher-order functions
        — no Python in the loop.

        Scoring: like whoosh, the phrase scores as the sum of its word
        matchers' BM25 scores for matching docs (SpanNear scores via its
        wrapped IntersectionMatcher)."""
        spark = self.index.spark
        empty = self.index.empty_scored()
        if not self._known_field(q.fieldname):
            return empty  # undeclared field: no terms (TermNotFound)
        if not self.index.config.field(q.fieldname).positions:
            # positions-free builds no longer store the (all-null)
            # positions column; a phrase over such a field matches
            # nothing, exactly as the null-positions scan did before
            return empty
        words = list(q.words)
        # positional scoring needs concrete per-word stats (the span kernel
        # and shifted-intersection both score via the stats map); fetch the
        # phrase words here — flat boolean plans no longer prefetch
        stats = dict(stats)
        stats.update(self._cached_stats([(q.fieldname, w) for w in words]))
        if q.slop != 1 or len(set(words)) != len(words):
            # wider slop or duplicate phrase words need the full span
            # kernel (per-occurrence span combination)
            from whoosh_novo_spark.operators.spans import phrase_with_slop

            return phrase_with_slop(self, q, stats)
        leaf_stats = [stats.get((q.fieldname, w)) for w in words]
        if any(s is None for s in leaf_stats):
            return empty
        p = self.index.postings_span(q.fieldname, terms=words).where(
            (F.col("field") == q.fieldname) & F.col("term").isin(words)
        )
        # order index of each word in the phrase (first occurrence wins for
        # duplicate words — positions arrays still distinguish docs)
        ord_map = F.create_map(
            *[F.lit(x) for i, w in enumerate(words) for x in (w, i)]
        )
        score = self._terms_score_col(
            q.fieldname, [(w, st, 1.0) for w, st in zip(words, leaf_stats)]
        )
        # shift each word's positions back by its phrase offset; a phrase
        # occurrence at base position p makes p appear in every word's
        # shifted set — slop=1 (exact adjacency) requires intersection
        shifted = p.select(
            "docid",
            "term",
            score.alias("score"),
            F.transform(
                F.col("positions"), lambda x: x - ord_map[F.col("term")]
            ).alias("shifted"),
        )
        n = len(set(words))
        agg = (
            shifted.groupBy("docid")
            .agg(
                F.sum("score").alias("score"),
                F.count(F.lit(1)).alias("_nc"),
                F.aggregate(
                    F.collect_list("shifted"),
                    F.lit(None).cast("array<int>"),
                    lambda acc, x: F.when(acc.isNull(), x).otherwise(
                        F.array_intersect(acc, x)
                    ),
                ).alias("_common"),
            )
            .where((F.col("_nc") == n) & (F.size("_common") > 0))
        )
        return agg.select("docid", "score")


def _union_all(dfs: list[DataFrame]) -> DataFrame:
    out = dfs[0].select("docid", "score")
    for d in dfs[1:]:
        out = out.unionByName(d.select("docid", "score"))
    return out


_RX_META = set(".*+?[](){}|\\^$")


def _literal_prefix_of_regex(pattern: str) -> str:
    """Leading literal run of an anchored regex ('^abc.*' -> 'abc')."""
    if not pattern.startswith("^"):
        return ""
    out = []
    for ch in pattern[1:]:
        if ch in _RX_META:
            # a quantifier after the last literal makes it optional
            if ch in "*?{" and out:
                out.pop()
            break
        out.append(ch)
    return "".join(out)


def _multiterm_cond(q: ast.Query):
    """Exact term-membership predicate for a multiterm node, applied to the
    (small) terms table (terms.py:310-519 expansions)."""
    f = F.col("field") == q.fieldname
    if isinstance(q, ast.Prefix):
        return f & F.col("term").startswith(q.text)
    if isinstance(q, ast.Wildcard):
        # glob -> anchored regex (automata/glob.py semantics)
        rx = "^" + re.escape(q.text).replace(r"\*", ".*").replace(r"\?", ".") + "$"
        return f & F.col("term").rlike(rx)
    if isinstance(q, ast.Regex):
        return f & F.col("term").rlike(q.text)
    if isinstance(q, ast.TermRange):
        cond = f
        if q.start is not None:
            cond = cond & (
                F.col("term") > q.start if q.startexcl else F.col("term") >= q.start
            )
        if q.end is not None:
            cond = cond & (
                F.col("term") < q.end if q.endexcl else F.col("term") <= q.end
            )
        return cond
    if isinstance(q, ast.FuzzyTerm):
        pre = q.text[: q.prefixlength]
        cond = f & (F.levenshtein(F.col("term"), F.lit(q.text)) <= q.maxdist)
        # cheap length band prunes most of the lexicon before levenshtein
        cond = cond & F.length("term").between(
            len(q.text) - q.maxdist, len(q.text) + q.maxdist
        )
        if pre:
            cond = cond & F.col("term").startswith(pre)
        return cond
    raise TypeError(type(q))


def _prefix_hi(prefix: str) -> str | None:
    """Smallest string greater than every string with ``prefix`` (an
    inclusive-safe upper bound for file-span pruning), or None when no
    such successor exists (trailing U+10FFFF run)."""
    s = prefix
    while s and ord(s[-1]) >= 0x10FFFF:
        s = s[:-1]
    if not s:
        return None
    return s[:-1] + chr(ord(s[-1]) + 1)


def _multiterm_file_bounds(q: ast.Query) -> tuple[str | None, str | None]:
    """(lo, hi) term bounds for FILE-level pruning of a multiterm scan —
    over-inclusive is fine (the join against the expanded terms is exact),
    under-inclusive would drop postings; None = unbounded on that side."""
    if isinstance(q, ast.Prefix):
        return q.text, _prefix_hi(q.text)
    if isinstance(q, ast.TermRange):
        return q.start, q.end
    if isinstance(q, (ast.Wildcard,)):
        lit = re.split(r"[*?]", q.text, maxsplit=1)[0]
        return (lit, _prefix_hi(lit)) if lit else (None, None)
    if isinstance(q, ast.Regex):
        lit = _literal_prefix_of_regex(q.text)
        return (lit, _prefix_hi(lit)) if lit else (None, None)
    if isinstance(q, ast.FuzzyTerm):
        pre = q.text[: q.prefixlength]
        return (pre, _prefix_hi(pre)) if pre else (None, None)
    return None, None


def _multiterm_pushdown(q: ast.Query):
    """Cheap, parquet-pushable bound for the POSTINGS scan (sorted by
    (field, term, docid) -> row-group min/max pruning).  Membership is made
    exact by the join against the expanded terms; this just prunes IO.
    Returns None when no useful bound exists (e.g. unanchored regex)."""
    if isinstance(q, ast.Prefix):
        return F.col("term").startswith(q.text)
    if isinstance(q, ast.TermRange):
        return _multiterm_cond(q)  # the range IS the pushdown
    if isinstance(q, ast.Wildcard):
        lit = re.split(r"[*?]", q.text, maxsplit=1)[0]
        return F.col("term").startswith(lit) if lit else None
    if isinstance(q, ast.Regex):
        lit = _literal_prefix_of_regex(q.text)
        return F.col("term").startswith(lit) if lit else None
    if isinstance(q, ast.FuzzyTerm):
        pre = q.text[: q.prefixlength]
        return F.col("term").startswith(pre) if pre else None
    raise TypeError(type(q))
