"""Block-max pruned top-k (the reference's WAND path, SURVEY §4.3).

The reference's TopCollector feeds the kth score back as ``minscore`` and
matchers skip whole 128-posting blocks whose upper-bound quality can't
beat it (collectors.py:405-413, whoosh3.py:1085-1098, binary.py:270-295).
That loop is inherently sequential per query; the distributed shape here:

1. partition the docid space into ranges ("buckets"); every posting block
   overlapping a bucket is routed to it (blocks are sorted disjoint docid
   runs, so the overlap set comes straight from the min/max skip pointers
   — no decode);
2. inside each bucket an Arrow kernel runs candidate introduction with
   block-max pruning (MaxScore/BMW family): terms rarest-first
   (compound.py:261-266), candidates fully scored on introduction via
   skip-pointer lookups into other terms' blocks (decode on touch),
   a local k-heap supplies the pruning threshold;
3. the union of per-bucket top-k candidates (<= buckets x k rows) gets an
   exact global ORDER BY score DESC, docid LIMIT k.

Exactness: a block is skipped only when every not-yet-candidate doc in it
has upper bound STRICTLY below the kth fully-scored score, so skipped docs
can never enter the true top-k even via docid tie-break — the pruned path
is rank-identical to the exact aggregation path (which remains the test
oracle, tests/test_wand.py).  Tombstoned indexes stay on the pruned path:
deleted docids are cogrouped into their buckets and filtered at candidate
introduction (statistics keep counting deletes, like the exact path).

Routes.  ``search_wand`` answers an unboosted Term / And / Or of one
BM25F field with ``limit`` set on one of three routes, chosen by the
present terms' total postings (Σdf, from the cached term stats):

- below ``DRIVER_KERNEL_MAX_POSTINGS`` on local storage: the kernel runs
  once on the driver over the single bucket [0, next_docid), fed by a
  pyarrow read of the terms' block rows and the tombstones, and the top-k
  comes back as a ``LocalTableScan`` — no Spark job at all;
- below ``EXACT_PLAN_MAX_POSTINGS``: the exact JVM aggregation
  (``Searcher.search``'s plan);
- at or above it: the bucketed kernel as a Spark job (steps 1-3).

Every route returns the same ranks and scores; ``force_kernel=True`` pins
the Spark kernel and ``multiterm=True`` skips the driver route.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from whoosh_novo_spark.operators.blocks import decode_ids, decode_lens
from whoosh_novo_spark.operators.query import scored_frame
from whoosh_novo_spark.plans import ast


# Route bounds over Σdf (see the module docstring).
#
# Driver kernel vs exact plan: the exact plan's floor is scheduling, not
# data — two Spark jobs and three stages, 160-234 ms per 3-term
# disjunction on 700- to 9,400-doc indexes, of which the scan job is
# about 20 ms.  The numpy kernel over one 1M-doc bucket costs about
# 0.4 µs per posting with little pruning on random data (27 / 116 / 436
# / 967 ms at 41k / 300k / 1.2M / 2.1M postings), and the block read
# about 1.8 ms per file.  ``bench_extra.py wand`` at the 1M-doc index
# (65-71 block files per query): driver 178 / 378 / 2083 ms against
# exact 218 / 438 / 1170 ms at Σdf 41k / 380k / 2.9M, so the routes
# cross near 500k postings; the bound sits at half that, since the
# per-posting cost grows where the kernel prunes less.
DRIVER_KERNEL_MAX_POSTINGS = 250_000
# Spark kernel vs exact plan (r6): the bucketed kernel pays a fixed
# ~0.7-0.9 s of plan machinery (blocks scan + explode + cogroup shuffle
# + per-bucket Python eval) before any pruning can help, while the exact
# aggregation rides row-group pruning and whole-stage codegen.
# Same-window medians at the 1M-doc index: kernel 0.84-1.4 s vs exact
# 0.20-0.55 s at every selectivity (Σdf 41k..2.9M), and the r3 4M probe
# still had the kernel behind, so the Spark kernel only runs where
# skipped blocks can outweigh its fixed cost.
EXACT_PLAN_MAX_POSTINGS = 5_000_000


def _bm25(idf: float, w: np.ndarray, flq: np.ndarray, avgfl: float, B: float, K1: float):
    return idf * (w * (K1 + 1)) / (w + K1 * ((1 - B) + B * flq / avgfl))


class _TermBlocks:
    """Per-term block arrays with lazy decode + cache."""

    __slots__ = ("mins", "maxs", "maxw", "minlq", "ids_b", "w_b", "l_b", "cache", "shift")

    def __init__(self, g: pd.DataFrame):
        g = g.sort_values("min_docid", kind="mergesort")
        self.mins = g["min_docid"].to_numpy(dtype=np.int64)
        self.maxs = g["max_docid"].to_numpy(dtype=np.int64)
        self.maxw = g["max_weight"].to_numpy(dtype=np.float64)
        self.minlq = g["min_len_q"].to_numpy(dtype=np.int64)
        self.ids_b = g["ids"].tolist()
        self.w_b = g["weights"].tolist()
        self.l_b = g["lens"].tolist()
        # FederatedIndex (operators/federate.py) shifts min/max_docid at
        # read but cannot rewrite the varbyte blobs; the per-row shift is
        # added here after decode.  Single-store blocks carry no column.
        self.shift = (
            g["docid_shift"].to_numpy(dtype=np.int64)
            if "docid_shift" in g.columns
            else None
        )
        self.cache: dict[int, tuple] = {}

    def decode(self, bi: int):
        got = self.cache.get(bi)
        if got is None:
            ids = decode_ids(self.ids_b[bi]).astype(np.int64)
            if self.shift is not None and self.shift[bi]:
                ids = ids + self.shift[bi]
            w = np.frombuffer(self.w_b[bi], dtype=np.float32).astype(np.float64)
            lq = decode_lens(self.l_b[bi])
            got = (ids, w, lq)
            self.cache[bi] = got
        return got

    def lookup(self, docids: np.ndarray):
        """Vectorized (weight, len_q) lookup via skip pointers; 0 where
        absent.  Decodes only blocks that contain probed ids."""
        n = len(docids)
        w_out = np.zeros(n, dtype=np.float64)
        l_out = np.ones(n, dtype=np.int64)
        if len(self.mins) == 0:
            return w_out, l_out
        bi = np.searchsorted(self.maxs, docids, side="left")
        ok = (bi < len(self.mins)) & (docids >= self.mins[np.minimum(bi, len(self.mins) - 1)])
        for b in np.unique(bi[ok]):
            m = ok & (bi == b)
            ids, w, lq = self.decode(int(b))
            pos = np.searchsorted(ids, docids[m])
            pos = np.minimum(pos, len(ids) - 1)
            hit = ids[pos] == docids[m]
            rows = np.nonzero(m)[0][hit]
            w_out[rows] = w[pos[hit]]
            l_out[rows] = lq[pos[hit]]
        return w_out, l_out


def _bucket_kernel(pdf, params, deleted: np.ndarray | None = None) -> pd.DataFrame:
    """Candidate introduction with block-max pruning — fully vectorized
    (r6): no per-doc Python.  Dedup across intro terms uses skip-pointer
    presence probes instead of a Python ``seen`` set: a doc present in an
    EARLIER intro term was either already introduced there (its block was
    decoded) or lives in a skipped block, and a skipped block's docs are
    provably below theta forever (theta only grows) — so "present in any
    earlier intro term" is an exact already-handled test.  The top-k heap
    becomes a sorted (score desc, docid asc) array pair merged per block
    with one lexsort over <= k + block_limit rows."""
    k = params["k"]
    mode = params["mode"]
    B, K1, avgfl = params["B"], params["K1"], params["avgfl"]
    idf = params["idf"]           # term -> idf
    order = params["order"]       # terms rarest-first
    mq = params["mq"]             # term -> max quality

    tb = {t: _TermBlocks(g) for t, g in pdf.groupby("term") if t in idf}
    order = [t for t in order if t in tb]
    if not order or (mode == "and" and len(order) < len(params["order"])):
        return pd.DataFrame({"docid": [], "score": []})
    total_mq = sum(mq[t] for t in order)
    suffix = np.cumsum([mq[t] for t in order][::-1])[::-1]

    lo = int(params["lo"])
    hi = int(params["hi"])
    topk_id = np.empty(0, dtype=np.int64)
    topk_sc = np.empty(0, dtype=np.float64)
    theta = None

    intro_terms = order[:1] if mode == "and" else order
    n_req = len(order)
    for i, t in enumerate(intro_terms):
        if theta is not None and suffix[i] < theta:
            break
        T = tb[t]
        earlier = set(intro_terms[:i])
        others = [o for o in order if o != t]
        others_mq = total_mq - mq[t]
        # per-block quality bounds + bucket overlap, one vectorized pass
        in_bucket = (T.maxs >= lo) & (T.mins < hi)
        bqs = _bm25(idf[t], T.maxw, T.minlq.astype(np.float64), avgfl, B, K1)
        for b in np.flatnonzero(in_bucket):
            if theta is not None and bqs[b] + others_mq < theta:
                continue  # block-max skip (strict: preserves ties)
            ids, w, lq = T.decode(int(b))
            m = (ids >= lo) & (ids < hi)
            if deleted is not None and len(deleted):
                # tombstoned docs never become candidates; block-max
                # bounds stay valid upper bounds after deletions
                pos = np.searchsorted(deleted, ids)
                pos = np.minimum(pos, len(deleted) - 1)
                m &= deleted[pos] != ids
            if not m.all():
                ids, w, lq = ids[m], w[m], lq[m]
            if len(ids) == 0:
                continue
            scores = _bm25(idf[t], w, lq.astype(np.float64), avgfl, B, K1)
            nmatch = np.ones(len(ids), dtype=np.int64)
            new = np.ones(len(ids), dtype=bool)
            for t2 in others:
                w2, lq2 = tb[t2].lookup(ids)
                hit = w2 > 0
                if t2 in earlier:
                    new &= ~hit  # already introduced (or provably < theta)
                if hit.any():
                    scores[hit] += _bm25(
                        idf[t2], w2[hit], lq2[hit].astype(np.float64), avgfl, B, K1
                    )
                    nmatch[hit] += 1
            if mode == "and":
                new &= nmatch == n_req
            if not new.any():
                continue
            ids_n, sc_n = ids[new], scores[new]
            # vectorized top-k merge: (score desc, docid asc), theta = kth
            all_id = np.concatenate([topk_id, ids_n])
            all_sc = np.concatenate([topk_sc, sc_n])
            if len(all_id) > k:
                sel = np.lexsort((all_id, -all_sc))[:k]
                topk_id, topk_sc = all_id[sel], all_sc[sel]
                theta = topk_sc[-1] if len(topk_sc) == k else theta
            else:
                topk_id, topk_sc = all_id, all_sc
                if len(topk_id) == k:
                    theta = topk_sc.min()

    return pd.DataFrame({"docid": topk_id, "score": topk_sc})


def search_wand(
    searcher,
    q: ast.Query,
    limit: int = 10,
    n_buckets: int | None = None,
    multiterm: bool = False,
    force_kernel: bool = False,
) -> DataFrame:
    """Top-``limit`` (docid, score), ordered (score desc, docid asc) and
    rank-identical to ``Searcher.search``, on one of three routes (see
    the route bounds above).  A flat query small enough for the driver
    kernel is answered in-process on every call and never enters the
    plan cache; every other query goes through ``Searcher._cached_plan``
    (same cache and contract as ``Searcher.search``: plans only, never
    rows; cache hits hand out a fresh Dataset so shuffle outputs are
    never reused)."""
    if limit is not None and not (multiterm or force_kernel):
        local = _search_local(searcher, q, limit)
        if local is not None:
            return local
    return searcher._cached_plan(
        ("wand", q, limit, n_buckets, multiterm, force_kernel),
        lambda: _search_wand(searcher, q, limit, n_buckets, multiterm, force_kernel),
    )


def _flat_terms(qn: ast.Query) -> tuple[list[ast.Term], str] | None:
    """(terms, "or" | "and") of a Term or an And/Or of Terms, else None."""
    if isinstance(qn, ast.Term):
        return [qn], "or"
    if isinstance(qn, (ast.And, ast.Or)) and all(
        isinstance(c, ast.Term) for c in qn.children
    ):
        return list(qn.children), "and" if isinstance(qn, ast.And) else "or"
    return None


def _kernel_fits(searcher, qn: ast.Query, terms: list[ast.Term]) -> bool:
    """The kernel hard-codes unboosted single-field BM25 over block
    metadata: other weighting models (its bound math is BM25's), a
    segment without blocks (e.g. one store of a federation built by an
    older writer: no skip pointers), Term or query boosts, minmatch
    counting, unscorable fields (WeightScorer) and fields without
    postings (undeclared, or typed docmap columns) all keep rank identity
    with ``Searcher.search`` only on the exact plan."""
    from whoosh_novo_spark.plans.weighting import BM25F

    ix = searcher.index
    fieldname = terms[0].fieldname
    return (
        searcher._known_field(fieldname)
        and searcher._is_text_field(fieldname)
        and isinstance(searcher.model, BM25F)
        and all(s.has_blocks for s in ix.manifest.segments)
        and all(t.boost == 1.0 for t in terms)
        and getattr(qn, "boost", 1.0) == 1.0
        and not (isinstance(qn, ast.Or) and (getattr(qn, "minmatch", 0) or 0) > 1)
        and len({t.fieldname for t in terms}) == 1
        and ix.config.field(fieldname).scorable
    )


def _kernel_params(searcher, present: list[ast.Term], stats, limit: int, mode: str) -> dict:
    """The kernel's scoring constants for the present terms of one field:
    BM25 B/K1/avgfl, per-term idf and whole-list max quality
    (scoring.py:205-212: score(max_weight, min_length)), terms
    rarest-first."""
    ix = searcher.index
    fieldname = present[0].fieldname
    avgfl = ix.avg_field_length(fieldname)
    B, K1 = searcher.model.field_b(fieldname), searcher.model.K1
    st = {t.text: stats[(t.fieldname, t.text)] for t in present}
    idf = {w: searcher.idf(s.df, fieldname) for w, s in st.items()}
    mq = {
        w: float(
            _bm25(
                idf[w], np.array([s.max_weight]), np.array([float(s.min_len_q)]),
                avgfl, B, K1,
            )[0]
        )
        for w, s in st.items()
    }
    return {
        "k": limit, "mode": mode, "B": B, "K1": K1, "avgfl": float(avgfl),
        "idf": idf, "mq": mq, "order": sorted(st, key=lambda w: st[w].df),
    }


_BLOCK_COLS = [
    "term", "min_docid", "max_docid", "max_weight", "min_len_q", "ids", "weights", "lens",
]


def _local_blocks(
    files: list[tuple[str, int]], fieldname: str, texts: list[str]
) -> pd.DataFrame:
    """The block rows of ``texts`` in ``fieldname`` from ``files``
    ((path, docid_shift) pairs), read in-process with pyarrow — one
    multi-file read per store offset, about 2.5x faster than a read per
    file — with docids shifted by the store offset (FederatedIndex) the
    way the Spark read shifts them."""
    import pyarrow.parquet as pq

    parts = []
    for shift in sorted({sh for _, sh in files}):
        t = pq.read_table(
            [f for f, sh in files if sh == shift],
            columns=_BLOCK_COLS,
            filters=[("field", "==", fieldname), ("term", "in", texts)],
            partitioning=None,  # a key=value dir in the store path is no column
        )
        if t.num_rows == 0:
            continue
        pdf = t.to_pandas()
        if shift:
            pdf["min_docid"] += shift
            pdf["max_docid"] += shift
        pdf["docid_shift"] = shift
        parts.append(pdf)
    if not parts:
        return pd.DataFrame(columns=_BLOCK_COLS)
    return pd.concat(parts, ignore_index=True)


def _local_deleted(ix) -> np.ndarray | None:
    """Sorted tombstoned docids (store offsets applied), read in-process;
    None when the tombstone files are not local."""
    import pyarrow.parquet as pq

    files = ix._local_files("tombstones") if ix.manifest.has_tombstones else []
    if files is None:
        return None
    ids = [
        pq.read_table(f, columns=["docid"])["docid"].to_numpy().astype(np.int64) + shift
        for f, shift in files
    ]
    return np.unique(np.concatenate(ids)) if ids else np.empty(0, np.int64)


def _search_local(searcher, q: ast.Query, limit: int) -> DataFrame | None:
    """The driver route: the kernel once over the single bucket
    [0, next_docid) of blocks and tombstones read with pyarrow, the top-k
    returned as a ``LocalTableScan`` — no Spark job.  None, for the
    caller's Spark routes, unless the query fits the kernel, its blocks
    and tombstones are on local storage and its present terms' Σdf is
    below ``DRIVER_KERNEL_MAX_POSTINGS``."""
    ix = searcher.index
    qn = q.normalize()
    flat = _flat_terms(qn)
    if flat is None:
        return None
    terms, mode = flat
    if not _kernel_fits(searcher, qn, terms):
        return None
    fieldname = terms[0].fieldname
    stats = searcher._cached_stats([(t.fieldname, t.text) for t in terms])
    present = [t for t in terms if (t.fieldname, t.text) in stats]
    if not present or (mode == "and" and len(present) < len(terms)):
        return ix.empty_scored()
    texts = [t.text for t in present]
    if sum(stats[(fieldname, w)].df for w in texts) >= DRIVER_KERNEL_MAX_POSTINGS:
        return None
    files = ix._local_pruned_files("blocks", {"fieldname": fieldname, "terms": texts})
    if not files:
        return None
    try:
        deleted = _local_deleted(ix)
        if deleted is None:
            return None
        blocks = _local_blocks(files, fieldname, texts)
    except (OSError, pa.ArrowException):  # unreadable file: Spark reads it
        return None
    params = _kernel_params(searcher, present, stats, limit, mode)
    params["lo"], params["hi"] = 0, ix.manifest.next_docid
    top = _bucket_kernel(blocks, params, deleted if len(deleted) else None)
    ids = top["docid"].to_numpy(dtype=np.int64)
    scores = top["score"].to_numpy(dtype=np.float64)
    order = np.lexsort((ids, -scores))
    return scored_frame(ix.spark, ids[order], scores[order])


def _search_wand(
    searcher,
    q: ast.Query,
    limit: int = 10,
    n_buckets: int | None = None,
    multiterm: bool = False,
    force_kernel: bool = False,
) -> DataFrame:
    """The Spark routes for flat And/Or-of-Terms queries over the blocks
    table: the exact plan, or the bucket kernel.

    Returns (docid, score) ordered (score desc, docid asc) limit k —
    rank-identical to ``Searcher.search``.

    ``multiterm=True`` additionally prunes scored multiterm queries
    (Prefix/Wildcard/Regex — flat Ors after lexicon expansion) up to the
    1024-clause expansion cap.  OFF by default because it measured a net
    LOSS at 1M docs (exact 1.1/1.2 s vs pruned 2.0/19.3 s at 10/100
    expanded terms, BENCH/prefix_wand_ab.json): the expansion is an extra
    Spark job per query and the kernel's per-term block walk scales with
    clause count, while the exact path's joined-stats aggregation is one
    scan regardless of expansion size.  Kept (parity-tested) for reuse as
    the skip-list machinery for future bounded expansions; by default
    multiterm queries take the exact path.
    """
    ix = searcher.index
    spark = ix.spark
    qn = q.normalize()
    expanded_stats = None
    flat = _flat_terms(qn)
    if flat is not None:
        terms, mode = flat
    elif (
        multiterm
        and isinstance(qn, (ast.Prefix, ast.Wildcard, ast.Regex))
        and getattr(qn, "boost", 1.0) == 1.0
    ):
        # scored multiterm == Or over the lexicon expansion (terms.py:
        # 182-201 simplify): prune it like any flat Or.  The expansion is
        # the exact path's bounded driver expansion (Or.TOO_MANY_CLAUSES
        # = 1024 cap, compound.py:282) — beyond the cap the distributed
        # joined-stats exact path is the right plan anyway (the kernel
        # needs per-term driver stats), so fall back rather than collect
        # an unbounded term list.
        try:
            expansion = ix.expand_terms(qn)
        except ValueError:
            return searcher.search(q, limit=limit)
        if not expansion:
            return ix.empty_scored()
        terms = [ast.Term(qn.fieldname, t) for t, _ in expansion]
        mode = "or"
        expanded_stats = {(qn.fieldname, t): st for t, st in expansion}
    else:
        return searcher.search(q, limit=limit)  # non-flat: exact path

    if not _kernel_fits(searcher, qn, terms):
        return searcher.search(q, limit=limit)
    fieldname = terms[0].fieldname
    pairs = [(t.fieldname, t.text) for t in terms]
    # a lexicon expansion already carries aggregated TermStats — reuse
    # them instead of a second terms-table lookup
    stats = expanded_stats if expanded_stats is not None else searcher._cached_stats(pairs)
    present = [t for t in terms if (t.fieldname, t.text) in stats]
    if not present or (mode == "and" and len(present) < len(terms)):
        return ix.empty_scored()

    if not force_kernel and (
        sum(stats[(t.fieldname, t.text)].df for t in present) < EXACT_PLAN_MAX_POSTINGS
    ):
        return searcher.search(q, limit=limit)

    params_base = _kernel_params(searcher, present, stats, limit, mode)

    from whoosh_novo_spark.session import shuffle_partitions_of

    n_buckets = n_buckets or shuffle_partitions_of(spark)
    max_docid = ix.manifest.next_docid
    R = max(1, math.ceil(max_docid / n_buckets))

    blocks = ix.blocks_span(fieldname, terms=[t.text for t in present]).where(
        (F.col("field") == fieldname) & F.col("term").isin([t.text for t in present])
    )
    spanned = blocks.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                (F.col("min_docid") / R).cast("long"),
                (F.col("max_docid") / R).cast("long"),
            )
        ),
    )

    if ix.manifest.has_tombstones:
        # tombstones are routed to their docid bucket and filtered inside
        # the kernel at candidate introduction (a deleted doc can never
        # enter the heap; block-max bounds remain valid upper bounds, and
        # statistics keep counting deletes exactly like the exact path)
        tomb = ix.tombstones().withColumn(
            "bucket", (F.col("docid") / R).cast("long")
        )

        def run_cg(key, left, right):
            bucket = int(key[0])
            p = dict(params_base)
            p["lo"] = bucket * R
            p["hi"] = (bucket + 1) * R
            deleted = (
                np.sort(right["docid"].to_numpy(dtype=np.int64))
                if len(right)
                else None
            )
            return _bucket_kernel(left, p, deleted)

        cand = (
            spanned.groupBy("bucket")
            .cogroup(tomb.groupBy("bucket"))
            .applyInPandas(run_cg, "docid long, score double")
        )
        return cand.orderBy(F.desc("score"), F.asc("docid")).limit(limit)

    def run(key, pdf):
        bucket = int(key[0])
        p = dict(params_base)
        p["lo"] = bucket * R
        p["hi"] = (bucket + 1) * R
        return _bucket_kernel(pdf, p)

    cand = spanned.groupBy("bucket").applyInPandas(
        run, "docid long, score double"
    )
    return cand.orderBy(F.desc("score"), F.asc("docid")).limit(limit)
